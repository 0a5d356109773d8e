package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.retention.{EventsAdapter, Retention, StarAdapter}
import QueryHelpers._

/** Media query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object MediaQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- multimodal REAL decode (pure-JVM codecs: 24-bit BMP, PCM16
    //      WAV, concatenated-BMP video stacks — graft.multimodal.Codecs)
    //      as mapPartitions batch stages over binary payload columns.
    //      The corpus of genuine encoded files is materialized to a
    //      shared parquet fixture so DuckDB re-derives the SAME
    //      features from the payload bytes with fixed-offset hex
    //      arithmetic — the decode math itself is cross-engine
    //      verified, not trusted ----
    // header parse + claimed-metadata cross-check (shard QA gate)
    "q_media_decode" -> ((s, dir) =>
      graft.multimodal.Multimodal.decodeHeaders(mediaCorpus(s)).toDF()),
    // decoded-pixel channel sums + integer Rec.601 luma (stride/padding
    // and bottom-up row handling exercised: widths 8..20)
    "q_media_image_stats" -> ((s, dir) =>
      graft.multimodal.Multimodal.imageStats(mediaCorpus(s)).toDF()),
    // decoded PCM stats: sum/abs/energy/peak/zero-crossings
    "q_media_audio_stats" -> ((s, dir) =>
      graft.multimodal.Multimodal.audioStats(mediaCorpus(s)).toDF()),
    // per-frame decode of video stacks via offset-arithmetic seek
    "q_media_frames" -> ((s, dir) =>
      graft.multimodal.Multimodal.frameStats(mediaCorpus(s)).toDF()),
    // decode → nearest-neighbor 8×8 resize → re-encode → decode again:
    // the full thumbnail round-trip, verified against DuckDB computing
    // the identical integer source-pixel mapping
    "q_media_resize" -> ((s, dir) =>
      graft.multimodal.Multimodal.imageStats(
        graft.multimodal.Multimodal.resizeImages(mediaCorpus(s), 8))
        .toDF().select("media_id", "sum_r", "sum_g", "sum_b")),
    // compressed tier: inflate REAL PNGs (JDK ImageIO) and re-encode
    // BMP24; the oracle reads the fixture's INDEPENDENT BMP encoding of
    // the same pixels — hex equality proves the PNG decode byte-exact
    // (DuckDB can't inflate PNG, so the BMP re-encode is the bridge)
    "q_media_png_decode" -> ((s, dir) =>
      graft.multimodal.Multimodal.pngToBmpHex(pngCorpus(s))),
  )

  /** Rendered for the running application: the oracle reads the
    * corpora its Spark side wrote. */
  def oracleSql: Seq[(String, String)] = {
    val app = currentAppId
    oracleOver(mediaCorpusPath(app), pngCorpusPath(app))
  }

  private def oracleOver(corpus: String, png: String): Seq[(String, String)] = Seq(
    // The q_media_* family reads the SAME parquet fixture the Spark
    // side materializes (QueryHelpers.mediaCorpus) and re-derives the
    // decode results from the payload bytes: hex(bytes) → a byte list
    // via strpos over the hex alphabet (integer-exact in both
    // engines), then fixed-offset BMP/WAV header+sample arithmetic.
    // `bl` is the 1-based byte list: byte at 0-based offset o = bl[o+1].
    "q_media_decode" -> s"""
      WITH m AS (
        SELECT media_id, kind, format, width AS meta_w, height AS meta_h,
               octet_length(bytes)::BIGINT AS n_bytes, hex(bytes) AS h
        FROM read_parquet('$corpus/*.parquet')
      ),
      b AS (
        SELECT *, list_transform(range(n_bytes), i ->
            (strpos('0123456789ABCDEF', h[(i*2+1)::INT]) - 1) * 16
          + (strpos('0123456789ABCDEF', h[(i*2+2)::INT]) - 1)) AS bl
        FROM m
      ),
      p AS (
        SELECT media_id, kind, format, n_bytes, meta_w, meta_h,
               -- BMP: width i32le@18, height i32le@22 (small positives);
               -- frame size u32le@2; WAV: rate u32le@24, dataLen u32le@40
               CASE WHEN kind = 'audio' THEN 0
                    ELSE bl[19] + 256*bl[20] + 65536*bl[21]
                         + 16777216*bl[22] END AS width,
               CASE WHEN kind = 'audio' THEN 0
                    ELSE bl[23] + 256*bl[24] + 65536*bl[25]
                         + 16777216*bl[26] END AS height,
               CASE WHEN kind = 'audio' THEN 0
                    WHEN kind = 'image' THEN 1
                    ELSE n_bytes // (bl[3] + 256*bl[4] + 65536*bl[5]
                                     + 16777216*bl[6]) END AS n_frames,
               CASE WHEN kind = 'audio'
                    THEN bl[25] + 256*bl[26] + 65536*bl[27]
                         + 16777216*bl[28] ELSE 0 END AS sample_rate,
               CASE WHEN kind = 'audio'
                    THEN (bl[41] + 256*bl[42] + 65536*bl[43]
                          + 16777216*bl[44]) // 2 ELSE 0 END AS n_samples
        FROM b
      )
      SELECT media_id, kind, format, n_bytes,
             width::BIGINT AS width, height::BIGINT AS height,
             n_frames::BIGINT AS n_frames,
             sample_rate::BIGINT AS sample_rate,
             n_samples::BIGINT AS n_samples,
             (CASE WHEN kind = 'audio' THEN meta_w = 0 AND meta_h = 0
                   ELSE width = meta_w AND height = meta_h
              END)::BIGINT AS meta_ok
      FROM p
    """,
    "q_media_image_stats" -> s"""
      WITH m AS (
        SELECT media_id, octet_length(bytes)::BIGINT AS n_bytes,
               hex(bytes) AS h
        FROM read_parquet('$corpus/*.parquet')
        WHERE kind = 'image'
      ),
      b AS (
        SELECT media_id, list_transform(range(n_bytes), i ->
            (strpos('0123456789ABCDEF', h[(i*2+1)::INT]) - 1) * 16
          + (strpos('0123456789ABCDEF', h[(i*2+2)::INT]) - 1)) AS bl
        FROM m
      ),
      d AS (
        SELECT media_id, bl,
               bl[19] + 256*bl[20] AS w, bl[23] + 256*bl[24] AS h,
               bl[11] + 256*bl[12] AS dataoff
        FROM b
      ),
      -- per-pixel walk over file rows (orientation-free for sums);
      -- stride pads each row to 4 bytes: B at +0, G at +1, R at +2
      px AS (
        SELECT media_id, w, h,
               bl[dataoff + (p // w) * (((w*3 + 3) // 4) * 4)
                  + (p % w) * 3 + 3] AS r_,
               bl[dataoff + (p // w) * (((w*3 + 3) // 4) * 4)
                  + (p % w) * 3 + 2] AS g_,
               bl[dataoff + (p // w) * (((w*3 + 3) // 4) * 4)
                  + (p % w) * 3 + 1] AS b_
        FROM (SELECT media_id, w, h, dataoff, bl,
                     unnest(range(w * h)) AS p FROM d)
      )
      SELECT media_id, w::BIGINT AS width, h::BIGINT AS height,
             (w * h)::BIGINT AS n_px,
             sum(r_)::BIGINT AS sum_r, sum(g_)::BIGINT AS sum_g,
             sum(b_)::BIGINT AS sum_b,
             ((299 * sum(r_) + 587 * sum(g_) + 114 * sum(b_))
               // (w * h))::BIGINT AS mean_luma_milli
      FROM px GROUP BY media_id, w, h
    """,
    "q_media_audio_stats" -> s"""
      WITH m AS (
        SELECT media_id, octet_length(bytes)::BIGINT AS n_bytes,
               hex(bytes) AS h
        FROM read_parquet('$corpus/*.parquet')
        WHERE kind = 'audio'
      ),
      b AS (
        SELECT media_id, list_transform(range(n_bytes), i ->
            (strpos('0123456789ABCDEF', h[(i*2+1)::INT]) - 1) * 16
          + (strpos('0123456789ABCDEF', h[(i*2+2)::INT]) - 1)) AS bl
        FROM m
      ),
      d AS (
        SELECT media_id, bl,
               bl[25] + 256*bl[26] + 65536*bl[27] + 16777216*bl[28] AS rate,
               (bl[41] + 256*bl[42] + 65536*bl[43] + 16777216*bl[44]) // 2
                 AS ns
        FROM b
      ),
      -- i16le sample i at data offset 44: raw = b0 + 256·b1, sign-adjust
      sv AS (
        SELECT media_id, rate, ns, i,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s,
               CASE WHEN praw >= 32768 THEN praw - 65536 ELSE praw END AS ps
        FROM (SELECT media_id, rate, ns, i,
                     bl[45 + i*2] + 256*bl[46 + i*2] AS raw,
                     bl[43 + i*2] + 256*bl[44 + i*2] AS praw
              FROM (SELECT media_id, rate, ns, bl, unnest(range(ns)) AS i
                    FROM d))
      )
      SELECT media_id, rate::BIGINT AS sample_rate, ns::BIGINT AS n_samples,
             sum(s)::BIGINT AS sum_s, sum(abs(s))::BIGINT AS sum_abs,
             sum(s * s)::BIGINT AS energy, max(abs(s))::BIGINT AS peak_abs,
             count(*) FILTER (i > 0 AND (s >= 0) <> (ps >= 0))::BIGINT
               AS zero_cross
      FROM sv GROUP BY media_id, rate, ns
    """,
    "q_media_frames" -> s"""
      WITH m AS (
        SELECT media_id, octet_length(bytes)::BIGINT AS n_bytes,
               hex(bytes) AS h
        FROM read_parquet('$corpus/*.parquet')
        WHERE kind = 'video'
      ),
      b AS (
        SELECT media_id, n_bytes, list_transform(range(n_bytes), i ->
            (strpos('0123456789ABCDEF', h[(i*2+1)::INT]) - 1) * 16
          + (strpos('0123456789ABCDEF', h[(i*2+2)::INT]) - 1)) AS bl
        FROM m
      ),
      d AS (
        SELECT media_id, bl,
               bl[3] + 256*bl[4] + 65536*bl[5] + 16777216*bl[6] AS fsize,
               bl[19] + 256*bl[20] AS w, bl[23] + 256*bl[24] AS h,
               bl[11] + 256*bl[12] AS dataoff,
               n_bytes // (bl[3] + 256*bl[4] + 65536*bl[5]
                           + 16777216*bl[6]) AS nf
        FROM b
      ),
      px AS (
        SELECT media_id, f, w, h,
               bl[f * fsize + dataoff + (p // w) * (((w*3 + 3) // 4) * 4)
                  + (p % w) * 3 + 3] AS r_,
               bl[f * fsize + dataoff + (p // w) * (((w*3 + 3) // 4) * 4)
                  + (p % w) * 3 + 2] AS g_,
               bl[f * fsize + dataoff + (p // w) * (((w*3 + 3) // 4) * 4)
                  + (p % w) * 3 + 1] AS b_
        FROM (SELECT media_id, w, h, fsize, dataoff, bl, f,
                     unnest(range(w * h)) AS p
              FROM (SELECT media_id, w, h, fsize, dataoff, bl,
                           unnest(range(nf)) AS f FROM d))
      )
      SELECT media_id, f::BIGINT AS frame_idx,
             w::BIGINT AS width, h::BIGINT AS height,
             sum(r_)::BIGINT AS sum_r, sum(g_)::BIGINT AS sum_g,
             sum(b_)::BIGINT AS sum_b
      FROM px GROUP BY media_id, f, w, h
    """,
    // nearest-neighbor 8×8: dest (x,y) samples source pixel
    // (x·w div 8, y·h div 8) in TOP-DOWN coordinates; BMP stores rows
    // bottom-up, so source row sy maps to file row h−1−sy
    "q_media_resize" -> s"""
      WITH m AS (
        SELECT media_id, octet_length(bytes)::BIGINT AS n_bytes,
               hex(bytes) AS h
        FROM read_parquet('$corpus/*.parquet')
        WHERE kind = 'image'
      ),
      b AS (
        SELECT media_id, list_transform(range(n_bytes), i ->
            (strpos('0123456789ABCDEF', h[(i*2+1)::INT]) - 1) * 16
          + (strpos('0123456789ABCDEF', h[(i*2+2)::INT]) - 1)) AS bl
        FROM m
      ),
      d AS (
        SELECT media_id, bl,
               bl[19] + 256*bl[20] AS w, bl[23] + 256*bl[24] AS h,
               bl[11] + 256*bl[12] AS dataoff
        FROM b
      ),
      px AS (
        SELECT media_id,
               bl[dataoff + (h - 1 - ((p // 8) * h // 8))
                    * (((w*3 + 3) // 4) * 4)
                  + ((p % 8) * w // 8) * 3 + 3] AS r_,
               bl[dataoff + (h - 1 - ((p // 8) * h // 8))
                    * (((w*3 + 3) // 4) * 4)
                  + ((p % 8) * w // 8) * 3 + 2] AS g_,
               bl[dataoff + (h - 1 - ((p // 8) * h // 8))
                    * (((w*3 + 3) // 4) * 4)
                  + ((p % 8) * w // 8) * 3 + 1] AS b_
        FROM (SELECT media_id, w, h, dataoff, bl,
                     unnest(range(64)) AS p FROM d)
      )
      SELECT media_id, sum(r_)::BIGINT AS sum_r,
             sum(g_)::BIGINT AS sum_g, sum(b_)::BIGINT AS sum_b
      FROM px GROUP BY media_id
    """,
    "q_media_png_decode" -> s"""
      SELECT media_id, hex(bmp_bytes) AS bmp_hex
      FROM read_parquet('$png/*.parquet')
    """,
  )
}
