package graft.gates

import graft.operators.Multimodal

/** The gates of [[graft.operators.Multimodal]]: each run with its DuckDB oracle. */
object MultimodalGates {
  val gates: Seq[Gate] = Seq(
    Gate("m1_asset_metadata", (s, d) => Multimodal.assetMetadata(s, d),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),
    // The planted dims are doc_id arithmetic; the Spark side must
    // recover them from the constructed PNG bytes, so equality checks
    // the build->parse round-trip.
    Gate("m2_png_header_dims", (s, d) => Multimodal.pngHeaderRoundtrip(s, d),
      """SELECT doc_id, CAST(doc_id % 1920 + 1 AS INT) AS width,
        |  CAST(doc_id % 1080 + 1 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("m3_wav_header_info", (s, d) => Multimodal.wavHeaderRoundtrip(s, d),
      """SELECT doc_id, CAST(doc_id % 2 + 1 AS INT) AS n_channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 44100
        |    WHEN doc_id % 3 = 1 THEN 22050 ELSE 16000 END AS INT) AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("m4_image_decode_stats", (s, d) => Multimodal.imageDecodeStats(s, d),
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 16 + 4 AS INT) AS width,
        |    CAST(doc_id % 12 + 4 AS INT) AS height,
        |    (doc_id % 16 + 4) // 2 AS wl,
        |    doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
        |    (doc_id*31) % 256 AS rb, (doc_id*37) % 256 AS gb, (doc_id*41) % 256 AS bb
        |  FROM documents),
        |m AS (SELECT doc_id, width, height,
        |    CAST(height*(wl*ra + (width-wl)*rb) AS DOUBLE) / (width*height) AS mr,
        |    CAST(height*(wl*ga + (width-wl)*gb) AS DOUBLE) / (width*height) AS mg,
        |    CAST(height*(wl*ba + (width-wl)*bb) AS DOUBLE) / (width*height) AS mb
        |  FROM p)
        |SELECT doc_id, width, height, CAST(3 AS INT) AS n_channels,
        |  round(mr, 6) AS mean_r, round(mg, 6) AS mean_g, round(mb, 6) AS mean_b,
        |  round(CAST(0.299 AS DOUBLE)*mr + CAST(0.587 AS DOUBLE)*mg
        |    + CAST(0.114 AS DOUBLE)*mb, 6) AS mean_luma
        |FROM m ORDER BY doc_id""".stripMargin),
    Gate("m8_visual_dup_groups", (s, d) => Multimodal.visualDupGroups(s, d),
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 16 + 4 AS INT) AS width,
        |    CAST(doc_id % 12 + 4 AS INT) AS height,
        |    (doc_id % 16 + 4) // 2 AS wl,
        |    doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
        |    (doc_id*31) % 256 AS rb, (doc_id*37) % 256 AS gb, (doc_id*41) % 256 AS bb
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(height*(wl*ra + (width-wl)*rb) AS DOUBLE) / (width*height) AS mr,
        |    CAST(height*(wl*ga + (width-wl)*gb) AS DOUBLE) / (width*height) AS mg,
        |    CAST(height*(wl*ba + (width-wl)*bb) AS DOUBLE) / (width*height) AS mb
        |  FROM p),
        |s AS (SELECT doc_id, CAST(floor(mr/32.0) AS INT) AS qr,
        |    CAST(floor(mg/32.0) AS INT) AS qg, CAST(floor(mb/32.0) AS INT) AS qb FROM m)
        |SELECT qr, qg, qb, count(*) AS n_images,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM s GROUP BY qr, qg, qb HAVING count(*) > 1
        |ORDER BY n_images DESC, qr, qg, qb""".stripMargin),
    // The Spark side must inflate a real PNG's IDAT (javax.imageio) to
    // recover the planted two-tone pixel statistics; the oracle states
    // them as the doc_id arithmetic they were planted from.
    // NN-resize replay: na = left-tone columns among the 4 sampled
    // x' positions (src_x = (x'*w)//4), same integer arithmetic the
    // decoder-side resampler runs over the real raster.
    Gate("m9_resize_stats", (s, d) => Multimodal.resizeStats(s, d),
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 16 + 4 AS BIGINT) AS width,
        |    (doc_id % 16 + 4) // 2 AS wl,
        |    doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
        |    (doc_id*31) % 256 AS rb, (doc_id*37) % 256 AS gb, (doc_id*41) % 256 AS bb
        |  FROM documents),
        |n AS (SELECT *, CAST(len(list_filter(range(0,4),
        |    x -> (x*width)//4 < wl)) AS BIGINT) AS na FROM p)
        |SELECT doc_id,
        |  round(CAST(na*ra + (4-na)*rb AS DOUBLE)/4, 6) AS mean_r4,
        |  round(CAST(na*ga + (4-na)*gb AS DOUBLE)/4, 6) AS mean_g4,
        |  round(CAST(na*ba + (4-na)*bb AS DOUBLE)/4, 6) AS mean_b4
        |FROM n ORDER BY doc_id""".stripMargin),
    // Likewise m5: the planted 16-bit PCM waveform lives only in the WAV
    // data chunk — the Spark side decodes real frames via javax.sound.
    Gate("m5_audio_decode_stats", (s, d) => Multimodal.audioDecodeStats(s, d),
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS INT) AS n_samples,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |    list_transform(range(0, doc_id % 50 + 10),
        |      i -> abs((doc_id*31 + i*17) % 2003 - 1001)) AS sa
        |  FROM documents)
        |SELECT doc_id, n_samples, sample_rate,
        |  round(CAST(n_samples AS DOUBLE) * 1000 / sample_rate, 6) AS duration_ms,
        |  round(CAST(list_sum(sa) AS DOUBLE) / n_samples, 6) AS mean_abs,
        |  CAST(list_max(sa) AS INT) AS peak_abs
        |FROM p ORDER BY doc_id""".stripMargin),
    // Frame sampling over planted multi-frame assets: every 2nd frame of
    // n_frames = doc_id%6+2 PNGs seeded doc_id*131+f; the same
    // two-tone-image arithmetic as m4, summed over the sampled frames
    // (exact integer sums, one division at the end).
    Gate("m6_frame_sample", (s, d) => Multimodal.frameSampleStats(s, d),
      """WITH d AS (SELECT doc_id, doc_id % 6 + 2 AS n_frames FROM documents),
        |f AS (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS fi FROM d),
        |s AS (SELECT doc_id, n_frames, doc_id*131 + fi AS sd FROM f WHERE fi % 2 = 0),
        |p AS (SELECT doc_id, n_frames,
        |    sd % 16 + 4 AS w, sd % 12 + 4 AS h, (sd % 16 + 4) // 2 AS wl,
        |    sd % 256 AS ra, (sd*7) % 256 AS ga, (sd*13) % 256 AS ba,
        |    (sd*31) % 256 AS rb, (sd*37) % 256 AS gb, (sd*41) % 256 AS bb
        |  FROM s),
        |a AS (SELECT doc_id, n_frames, count(*) AS n_sampled,
        |    CAST(sum(w*h) AS BIGINT) AS np,
        |    CAST(sum(h*(wl*ra + (w-wl)*rb)) AS BIGINT) AS sr,
        |    CAST(sum(h*(wl*ga + (w-wl)*gb)) AS BIGINT) AS sg,
        |    CAST(sum(h*(wl*ba + (w-wl)*bb)) AS BIGINT) AS sb
        |  FROM p GROUP BY 1, 2)
        |SELECT doc_id, CAST(n_frames AS INT) AS n_frames,
        |  CAST(n_sampled AS BIGINT) AS n_sampled,
        |  round(CAST(sr AS DOUBLE)/CAST(np AS DOUBLE), 6) AS mean_r,
        |  round(CAST(sg AS DOUBLE)/CAST(np AS DOUBLE), 6) AS mean_g,
        |  round(CAST(sb AS DOUBLE)/CAST(np AS DOUBLE), 6) AS mean_b
        |FROM a ORDER BY doc_id""".stripMargin),
    // Windowed PCM features from the planted waveform formula
    // (sample i = (id*31 + i*17) % 2003 - 1001), 16-sample windows.
    Gate("m7_audio_windows", (s, d) => Multimodal.audioWindowStats(s, d),
      """WITH d AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents),
        |w AS (SELECT doc_id, n, unnest(range(0, (n + 15) // 16)) AS win FROM d),
        |s AS (SELECT doc_id, win,
        |    unnest(range(win*16, least((win+1)*16, n))) AS i FROM w),
        |v AS (SELECT doc_id, win,
        |    abs((doc_id*31 + i*17) % 2003 - 1001) AS a FROM s),
        |g AS (SELECT doc_id, win, count(*) AS ns,
        |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(a*a) AS BIGINT) AS sq,
        |    max(a) AS pk FROM v GROUP BY 1, 2)
        |SELECT doc_id, CAST(win AS INT) AS win_idx, CAST(ns AS BIGINT) AS n_samples,
        |  sa AS sum_abs, CAST(pk AS INT) AS peak_abs,
        |  round(sqrt(CAST(sq AS DOUBLE)/CAST(ns AS DOUBLE)), 6) AS rms
        |FROM g ORDER BY doc_id, win_idx""".stripMargin),
  )
}
