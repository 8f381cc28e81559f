"""Mixed-format media lake: magic-byte dispatch + real per-format
decode + exact float feature math (multimodal.image_feature_stats)."""

import pytest
from pyspark.sql import functions as F

from felixzh_flink_spark.operators import multimodal as MM


def test_image_feature_stats_dispatches_and_matches_recompute(spark):
    """Every third doc is a PNG/GIF/color-JPEG; the kernel must sniff
    each row's magic bytes, decode with the right codec, and produce
    float features identical to a driver-side recompute through the
    SAME codecs."""
    from felixzh_flink_spark.functions.gif_codec import decode_gif
    from felixzh_flink_spark.functions.jpeg_codec import decode_jpeg
    from felixzh_flink_spark.functions.png_codec import decode_png

    df = spark.range(0, 36).withColumnRenamed("id", "doc_id")
    media = MM.synthesize_mixed_media_column(df)
    payloads = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    got = {r["doc_id"]: r for r in
           MM.image_feature_stats(media).collect()}
    assert len(got) == 36
    for i in range(36):
        p = payloads[i]
        if i % 3 == 0:
            assert p.startswith(b"\x89PNG") and got[i]["fmt"] == "png"
            w, h, ch, px = decode_png(p)
            trip = [(v, v, v) for v in px] if ch == 1 else \
                [(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                 for j in range(w * h)]
        elif i % 3 == 1:
            assert p.startswith(b"GIF8") and got[i]["fmt"] == "gif"
            w, h, pal, idx = decode_gif(p)
            trip = [(pal[3 * e], pal[3 * e + 1], pal[3 * e + 2])
                    for e in idx]
        else:
            assert p.startswith(b"\xff\xd8") and got[i]["fmt"] == "jpeg"
            w, h, ch, px = decode_jpeg(p)
            trip = [(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                    for j in range(w * h)]
        n = w * h
        lum = [r + g + b for r, g, b in trip]
        ls, lq = sum(lum), sum(v * v for v in lum)
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_rgb"] == ls / (3.0 * n)          # bit-exact doubles
        assert r["var_lum"] == (float(lq) - float(ls) * ls / n) / n


def test_unknown_magic_and_corrupt_payloads_quarantine(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "media": [b"BM\x00\x00 not a supported format",   # BMP-ish magic
                  b"\x89PNG\r\n\x1a\nbut-truncated",
                  None]}))
    rows = {r["doc_id"]: r for r in
            MM.image_feature_stats(df).collect()}
    assert all(rows[i]["fmt"] is None and rows[i]["mean_rgb"] is None
               for i in range(3))


def test_image_feature_stats_streaming_batch_parity(spark, tmp_path):
    """U4 twin contract: the operator is stateless mapInPandas, so the
    SAME call runs on a streaming frame — results must match batch."""
    src = str(tmp_path / "media")
    batch = MM.synthesize_mixed_media_column(
        spark.range(0, 12).withColumnRenamed("id", "doc_id"))
    batch.write.mode("append").parquet(src)
    expected = {(r["doc_id"], r["fmt"], r["mean_rgb"], r["var_lum"])
                for r in MM.image_feature_stats(
                    spark.read.parquet(src)).collect()}

    stream = spark.readStream.schema(
        "doc_id long, media binary").parquet(src)
    q = (MM.image_feature_stats(stream)
         .writeStream.outputMode("append")
         .format("memory").queryName("media_feats").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {(r["doc_id"], r["fmt"], r["mean_rgb"], r["var_lum"])
           for r in spark.sql("SELECT * FROM media_feats").collect()}
    assert got == expected and len(got) == 12


def test_gray_alpha_png_features_drop_alpha(spark):
    """A 2-channel (gray+alpha) PNG is fully decodable and must produce
    features from the gray samples with alpha dropped — not a
    quarantine row."""
    import pandas as pd

    from felixzh_flink_spark.functions.png_codec import encode_png

    w, h = 3, 2
    px = bytes([10, 255, 20, 255, 30, 0, 40, 128, 50, 7, 60, 9])
    payload = encode_png(w, h, px, 2)
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [0], "media": [payload]}))
    r = MM.image_feature_stats(df).collect()[0]
    assert r["fmt"] == "png" and r["channels"] == 1
    gray = px[0::2]
    n = w * h
    lum = [3 * v for v in gray]
    assert r["mean_rgb"] == sum(lum) / (3.0 * n)
    ls, lq = sum(lum), sum(v * v for v in lum)
    assert r["var_lum"] == (float(lq) - float(ls) * ls / n) / n


def test_webdataset_shard_roundtrip_and_quarantine(spark):
    """WebDataset shard: paired {id}.txt/{id}.png members recovered by
    sample-key grouping; corrupt gzip, missing part, and multi-sample
    shards all quarantine instead of emitting wrong rows."""
    import io
    import tarfile

    from felixzh_flink_spark.functions.gzip_codec import \
        encode_gzip_member
    from felixzh_flink_spark.operators import multimodal as MM

    df = spark.createDataFrame([(3, "héllo wörld"), (4, None)],
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_parts, r.txt_len, r.png_pixel_sum)
           for r in MM.webdataset_sample_stats(
               MM.synthesize_webdataset_column(df)).collect()}
    i = 3
    w, h, ch = i % 7 + 1, i % 5 + 1, (i % 2) * 2 + 1
    px = sum((i * 31 + 7 * j) % 256 for j in range(w * h * ch))
    assert got[3] == (2, len("héllo wörld".encode()), px)
    assert got[4][1] == 0                       # NULL text -> empty part

    def shard(members):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tf:
            for name, data in members:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        return encode_gzip_member(buf.getvalue())

    bad = spark.createDataFrame(
        [(1, bytearray(b"\x1f\x8bnot-gzip")),
         (2, bytearray(shard([("a.txt", b"x")]))),          # missing png
         (3, bytearray(shard([("a.txt", b"x"),              # two samples
                              ("b.png", b"y")])))],
        "doc_id long, shard binary")
    rows = {r.doc_id: r.n_parts
            for r in MM.webdataset_sample_stats(bad).collect()}
    assert rows == {1: None, 2: None, 3: None}


def test_image_ahash_and_neardup_pairs(spark):
    """aHash pipeline on CRAFTED images (not the fixture recipe): a
    bright-left/dark-right image, a near-duplicate differing by one
    pixel (same hash or Hamming 1), and its inversion (Hamming = 16 —
    all bits flip). The banded join must return the near-dup pair and
    must NOT return the inverted pair; hashes computed through the real
    PNG encode→decode roundtrip."""
    from felixzh_flink_spark.functions.png_codec import encode_png
    from felixzh_flink_spark.operators.multimodal import (
        image_ahash_bits,
        image_ahash_cells,
        image_neardup_pairs,
    )

    w, h = 8, 8
    base = bytes(250 if x < 4 else 5 for _ in range(h) for x in range(w))
    tweak = bytearray(base)
    tweak[0] = 240                              # one-pixel change
    inv = bytes(255 - v for v in base)
    rows = [(1, encode_png(w, h, base, 1)),
            (2, encode_png(w, h, bytes(tweak), 1)),
            (3, encode_png(w, h, inv, 1))]
    df = spark.createDataFrame(rows, "doc_id long, png binary")
    hashed = image_ahash_bits(image_ahash_cells(df, grid=4), grid=4)
    by_id = {r.doc_id: (list(r.bits), r.ahash) for r in hashed.collect()}
    # left half bright → bits 1 on cells 0-1 of each row (big-endian
    # packing: rows of 1100 → 0xCCCC)
    assert by_id[1][0] == [1, 1, 0, 0] * 4
    assert by_id[1][1] == 0xCCCC
    assert by_id[3][0] == [0, 0, 1, 1] * 4      # inversion flips all
    ham12 = sum(abs(a - b) for a, b in zip(by_id[1][0], by_id[2][0]))
    assert ham12 <= 1
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_neardup_pairs(hashed, max_hamming=1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == ham12
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_webdataset_pairs_extracts_and_quarantines(spark):
    """webdataset_pairs recovers (caption_len, png bytes) per shard —
    with image_group=4 the group's four samples carry IDENTICAL image
    bytes under their own captions (the paired-dedup workload) — and
    malformed shards quarantine as null rows."""
    from felixzh_flink_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(8, "a caption"), (9, "a much longer caption"), (10, None),
         (11, "x")], "doc_id long, text string")
    got = {r.doc_id: (r.caption_len, bytes(r.png))
           for r in MM.webdataset_pairs(
               MM.synthesize_webdataset_column(df, image_group=4))
           .collect()}
    assert got[8][0] == 9 and got[9][0] == 21
    assert got[10][0] == 0 and got[11][0] == 1    # null text → ""
    pngs = {v[1] for v in got.values()}
    assert len(pngs) == 1                          # shared group image
    bad = spark.createDataFrame([(1, b"not a shard")],
                                "doc_id long, shard binary")
    q = MM.webdataset_pairs(bad).collect()[0]
    assert q.caption_len is None and q.png is None


def test_image_ahash_gray_alpha_drops_alpha(spark):
    """A 2-channel (gray+alpha) PNG goes through the aHash kernel with
    alpha DROPPED (lum = 3·gray, the image_feature_stats contract) —
    not quarantined as null, and never reading past the pixel buffer
    at the last pixel."""
    from felixzh_flink_spark.functions.png_codec import encode_png
    from felixzh_flink_spark.operators.multimodal import (
        image_ahash_bits,
        image_ahash_cells,
    )

    w, h = 4, 4
    # gray bright-left / dark-right, alpha a decoy ramp that would
    # corrupt the hash if folded into luminance
    px = bytes(v for y in range(h) for x in range(w)
               for v in ((250 if x < 2 else 5), (x * 60 + y) % 256))
    gray_alpha = encode_png(w, h, px, 2)
    gray_only = encode_png(w, h, px[0::2], 1)
    df = spark.createDataFrame(
        [(1, gray_alpha), (2, gray_only)], "doc_id long, png binary")
    hashed = image_ahash_bits(image_ahash_cells(df, grid=4), grid=4)
    by_id = {r.doc_id: (list(r.bits) if r.bits is not None else None,
                        r.ahash) for r in hashed.collect()}
    assert by_id[1][0] is not None, "gray+alpha must not quarantine"
    assert by_id[1] == by_id[2], "alpha must not move any aHash bit"
    assert by_id[1][0] == [1, 1, 0, 0] * 4


def test_image_ahash_grid8_packs_null_but_dedups(spark):
    """Production grid=8 yields a 64-bit hash that cannot pack into a
    signed BIGINT: `ahash` must be NULL (not ANSI overflow), while
    `bits` stays full-fidelity and the banded near-dup join (which
    consumes only bits) still works at 16-bit bands."""
    import pytest

    from felixzh_flink_spark.functions.png_codec import encode_png
    from felixzh_flink_spark.operators.multimodal import (
        image_ahash_bits,
        image_ahash_cells,
        image_neardup_pairs,
    )

    w, h = 16, 16
    base = bytes(250 if x < 8 else 5 for _ in range(h) for x in range(w))
    tweak = bytearray(base)
    tweak[0] = 0                                 # one-pixel change
    inv = bytes(255 - v for v in base)
    df = spark.createDataFrame(
        [(1, encode_png(w, h, base, 1)),
         (2, encode_png(w, h, bytes(tweak), 1)),
         (3, encode_png(w, h, inv, 1))], "doc_id long, png binary")
    hashed = image_ahash_bits(image_ahash_cells(df, grid=8), grid=8)
    rows = {r.doc_id: (list(r.bits), r.ahash) for r in hashed.collect()}
    assert all(v[1] is None for v in rows.values())   # no 64-bit pack
    assert rows[1][0] == ([1] * 4 + [0] * 4) * 8      # first bit IS 1
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_neardup_pairs(
                 hashed, grid=8, bands=4, max_hamming=2).collect()}
    assert pairs.get((1, 2)) in (0, 1, 2)
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # pigeonhole misuse fails loudly instead of silently losing pairs
    with pytest.raises(AssertionError):
        image_neardup_pairs(hashed, grid=8, bands=4, max_hamming=4)


def test_audio_fingerprint_discriminates_envelopes(spark):
    """Audio fingerprint on CRAFTED clips (not the fixture recipe): a
    loud→quiet clip, its regained copy (every sample halved — the
    envelope SHAPE is identical, so the energy-above-mean bits match
    exactly), and the reversed quiet→loud clip (bits flip — different
    group). Decoded through the real WAV encode→decode roundtrip;
    stereo mixdown exercised via a 2-channel variant of the loud→quiet
    clip landing in the same group as its mono twin."""
    from felixzh_flink_spark.functions.wav_codec import encode_wav
    from felixzh_flink_spark.operators.multimodal import (
        audio_fingerprint_cells,
        image_ahash_bits,
        image_neardup_pairs,
    )

    loud_quiet = [20000] * 32 + [100] * 32
    regained = [v // 2 for v in loud_quiet]
    quiet_loud = list(reversed(loud_quiet))
    stereo = [v for s in loud_quiet for v in (s // 2, s - s // 2)]
    rows = [(1, encode_wav(loud_quiet, 8000, 1, 16)),
            (2, encode_wav(regained, 8000, 1, 16)),
            (3, encode_wav(quiet_loud, 8000, 1, 16)),
            (4, encode_wav(stereo, 8000, 2, 16))]
    df = spark.createDataFrame(rows, "doc_id long, wav binary")
    hashed = image_ahash_bits(audio_fingerprint_cells(df), grid=4)
    bits = {r.doc_id: list(r.bits) for r in hashed.collect()}
    assert bits[1] == [1] * 8 + [0] * 8          # loud half then quiet
    assert bits[3] == [0] * 8 + [1] * 8          # reversed envelope
    assert bits[2] == bits[1]                    # gain-invariant
    assert bits[4] == bits[1]                    # stereo mixdown twin
    pairs = {(r.id_a, r.id_b)
             for r in image_neardup_pairs(hashed, max_hamming=0).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert all(3 not in p for p in pairs)


def test_fused_synth_kernels_match_column_path(spark):
    """The r11 `synth=` fusion (fixture synthesis inside the SAME Arrow
    stage as the decode — the payload never crosses the JVM↔Python
    boundary) must be bit-identical to the two-stage
    synthesize-column → kernel path on every fused family, because the
    synth functions ARE the builders the column UDFs delegate to. A
    drift here would silently decouple the bench queries from the
    oracle-proven composition."""
    from felixzh_flink_spark.operators import multimodal as MM

    ids = spark.range(0, 60).selectExpr("id AS doc_id")

    cases = [
        (MM.png_pixel_stats, MM.synthesize_png_column, MM._png_payload, {}),
        (MM.gif_pixel_stats, MM.synthesize_gif_column, MM._gif_payload, {}),
        (MM.jpeg_pixel_stats, MM.synthesize_jpeg_column,
         MM._jpeg_payload, {}),
        (MM.jpeg_color_stats, MM.synthesize_jpeg_color_column,
         MM._jpeg_color_fixture_payload, {}),
        (MM.avi_frame_sample_stats, MM.synthesize_mjpeg_avi_column,
         MM._avi_payload, {}),
        (MM.wav_pcm_stats, MM.synthesize_wav_column, MM._wav_payload, {}),
        (MM.wav_adpcm_stats, MM.synthesize_adpcm_wav_column,
         MM._adpcm_payload, {}),
        (MM.wav_mulaw_stats, MM.synthesize_mulaw_wav_column,
         MM._mulaw_payload, {}),
        (MM.bmp_pixel_stats, MM.synthesize_bmp_column, MM._bmp_payload, {}),
        (MM.tiff_pixel_stats, MM.synthesize_tiff_column,
         MM._tiff_payload, {}),
        (MM.image_feature_stats, MM.synthesize_mixed_media_column,
         MM._mixed_media_payload, {}),
        (MM.image_ahash_cells, MM.synthesize_png_column,
         MM._png_payload, {"grid": 4}),
        (MM.audio_fingerprint_cells, MM.synthesize_wav_envelope_column,
         MM._wav_envelope_payload_fn(), {"windows": 16}),
        (MM.png_thumbnail_stats, MM.synthesize_png_column,
         MM._png_payload, {"out_w": 3, "out_h": 2}),
        (MM.gif_frame_sample_stats, MM.synthesize_gif_animation_column,
         MM._gif_anim_payload, {}),
        (MM.gif_composite_stats, MM.synthesize_gif_composited_column,
         MM._gif_comp_payload, {}),
        (MM.wav_resample_stats, MM.synthesize_wav_column,
         MM._wav_payload, {}),
        (MM.wav_segment_stats, MM.synthesize_wav_column,
         MM._wav_payload, {}),
        (MM.image_ahash_cells, MM.synthesize_png_large_column,
         MM._png_large_payload, {"grid": 8}),
    ]
    for stats, synth_col, payload_fn, kw in cases:
        # the synth column names differ per family; detect from defaults
        import inspect
        pc = inspect.signature(stats).parameters["payload_col"].default
        spc = inspect.signature(synth_col).parameters["payload_col"].default
        two_stage = stats(synth_col(ids).withColumnRenamed(spc, pc), **kw)
        fused = stats(ids, synth=payload_fn, **kw)
        a = sorted(map(tuple, two_stage.collect()))
        b = sorted(map(tuple, fused.collect()))
        assert a == b, stats.__name__


def test_fused_text_synth_kernels_match_column_path(spark):
    """Text-derived fixture fusion (gzip / mixed-compression / WARC /
    WebDataset build their payloads from each doc's text): the
    `synth=`+`synth_text_col=` path must be bit-identical to the
    two-stage synthesize-column → kernel composition."""
    from felixzh_flink_spark.operators import multimodal as MM

    d = spark.range(0, 40).selectExpr(
        "id AS doc_id", "concat('text-', id, ' body words') AS text")

    cases = [
        (MM.gzip_roundtrip_stats, MM.synthesize_gzip_column,
         MM._gzip_payload),
        (MM.compressed_text_stats, MM.synthesize_compressed_text_column,
         MM._compressed_text_payload),
        (MM.warc_record_stats, MM.synthesize_warc_column,
         MM._warc_payload),
        (MM.webdataset_sample_stats, MM.synthesize_webdataset_column,
         MM._webdataset_payload_fn()),
        (MM.webdataset_pairs, MM.synthesize_webdataset_column,
         MM._webdataset_payload_fn()),
    ]
    import inspect
    for stats, synth_col, payload_fn in cases:
        pc = inspect.signature(stats).parameters["payload_col"].default
        spc = inspect.signature(synth_col).parameters["payload_col"].default
        two_stage = stats(synth_col(d).withColumnRenamed(spc, pc))
        fused = stats(d, synth=payload_fn, synth_text_col="text")
        a = sorted(map(tuple, two_stage.collect()))
        b = sorted(map(tuple, fused.collect()))
        assert a == b, stats.__name__


#: every per-payload decode kernel with its declared output schema and
#: the extra arguments it needs
_DECODE_KERNELS = [
    (MM.png_pixel_stats, MM.PNG_STATS_SCHEMA, {}),
    (MM.image_ahash_cells, MM.AHASH_SCHEMA, {}),
    (MM.audio_fingerprint_cells, MM.AHASH_SCHEMA, {}),
    (MM.wav_pcm_stats, MM.WAV_STATS_SCHEMA, {}),
    (MM.png_thumbnail_stats, MM.THUMB_STATS_SCHEMA, {"out_w": 3, "out_h": 2}),
    (MM.gif_pixel_stats, MM.GIF_STATS_SCHEMA, {}),
    (MM.jpeg_pixel_stats, MM.JPEG_STATS_SCHEMA, {}),
    (MM.jpeg_color_stats, MM.JPEG_COLOR_STATS_SCHEMA, {}),
    (MM.gif_frame_sample_stats, MM.GIF_FRAME_SAMPLE_SCHEMA, {}),
    (MM.gif_composite_stats, MM.GIF_COMPOSITE_SCHEMA, {}),
    (MM.avi_frame_sample_stats, MM.AVI_FRAME_SAMPLE_SCHEMA, {}),
    (MM.wav_resample_stats, MM.WAV_RESAMPLE_SCHEMA, {}),
    (MM.image_feature_stats, MM.IMAGE_FEATURE_SCHEMA, {}),
    (MM.wav_segment_stats, MM.WAV_SEGMENT_SCHEMA, {}),
    (MM.wav_adpcm_stats, MM.AUDIO_PCM_STATS_SCHEMA, {}),
    (MM.wav_mulaw_stats, MM.AUDIO_PCM_STATS_SCHEMA, {}),
    (MM.webdataset_pairs, MM.WEBDATASET_PAIR_SCHEMA, {}),
    (MM.webdataset_sample_stats, MM.WEBDATASET_SCHEMA, {}),
    (MM.gzip_roundtrip_stats, MM.GZIP_ROUNDTRIP_SCHEMA, {}),
    (MM.compressed_text_stats, MM.COMPRESSED_TEXT_SCHEMA, {}),
    (MM.warc_record_stats, MM.WARC_RECORD_SCHEMA, {}),
    (MM.bmp_pixel_stats, MM.BMP_STATS_SCHEMA, {}),
    (MM.tiff_pixel_stats, MM.BMP_STATS_SCHEMA, {}),
]


def test_decode_kernels_quarantine_garbage_and_null_payloads(spark):
    """The shared quarantine policy, on every decode kernel: a garbage
    payload and a NULL payload each yield exactly ONE row that keeps
    the id with every other column NULL (projection and fan-out kernels
    alike), under exactly the declared output schema."""
    bad = spark.createDataFrame([(1, b"\x00not-media"), (2, None)],
                                "doc_id long, p binary")
    for kernel, schema, kw in _DECODE_KERNELS:
        out = kernel(bad, payload_col="p", **kw)
        assert out.schema == schema, kernel.__name__
        rows = sorted(map(tuple, out.collect()))
        null_tail = (None,) * (len(schema) - 1)
        assert rows == [(1, *null_tail), (2, *null_tail)], kernel.__name__


@pytest.mark.parametrize("kernel,param", [
    (MM.gif_frame_sample_stats, "every_ms"),
    (MM.avi_frame_sample_stats, "every_ms"),
    (MM.wav_segment_stats, "seg_frames"),
    (MM.image_ahash_cells, "grid"),
    (MM.audio_fingerprint_cells, "windows"),
    (MM.wav_resample_stats, "target_rate"),
])
def test_non_positive_kernel_parameter_raises_on_driver(spark, kernel,
                                                        param):
    """A non-positive step or size is rejected when the kernel is
    called, before any job runs: a zero step would spin a sampling loop
    until the Python worker runs out of memory, and a zero size would
    fail inside every decode and quarantine every VALID payload."""
    ids = spark.range(0, 4).selectExpr("id AS doc_id")
    for bad in (0, -1):
        with pytest.raises(ValueError, match=param):
            kernel(ids, **{param: bad})


def test_avi_corrupt_later_frame_quarantines_whole_clip(spark):
    """A clip whose SECOND sampled frame is corrupt emits exactly one
    quarantine row — never the earlier frame's sample rows next to a
    null row. Clip 0 has two 20 ms frames, so the default 30 ms
    sampling reads frame 0 at t=0 and frame 1 at t=30."""
    from felixzh_flink_spark.functions.avi_codec import parse_mjpeg_avi

    clip = MM._avi_payload(0)
    _w, _h, usec, frames = parse_mjpeg_avi(clip)
    assert usec == 20_000 and len(frames) == 2
    at = clip.index(frames[1])
    broken = clip[:at] + b"\x00" * len(frames[1]) + clip[at + len(frames[1]):]
    assert len(parse_mjpeg_avi(broken)[3]) == 2   # container still parses

    df = spark.createDataFrame([(7, broken), (8, clip)],
                               "doc_id long, video binary")
    rows = [tuple(r) for r in MM.avi_frame_sample_stats(df).collect()]
    assert [r for r in rows if r[0] == 7] == [(7,) + (None,) * 7]
    intact = [r for r in rows if r[0] == 8]       # intact clip: 2 samples
    assert len(intact) == 2
    assert all(v is not None for r in intact for v in r)
