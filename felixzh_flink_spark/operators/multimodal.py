"""Multimodal (image/audio/video) column plumbing.

Beyond-reference capability. Media payloads are opaque `binary` columns with
a typed metadata struct; decode/feature steps run as Arrow-batched
`mapInPandas` operators. Decode is REAL for every format with a pure-stdlib
codec in `functions/` — PNG, GIF (single + animated), baseline JPEG
(grayscale + YCbCr color), WAV PCM (+ resampling/segmentation), MJPEG-in-AVI
video frames, plus mixed-format feature extraction via magic-byte dispatch —
and honestly stubbed behind `require_codec()` only where a format genuinely
needs external codecs (inter-frame video such as H.264, PIL-class libraries).

Scale notes: media rows are large → repartition by byte-size budget, not row
count (`repartition_for_media`), so a 100 MB-video partition doesn't OOM an
executor while thumbnail rows starve the others.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from felixzh_flink_spark.operators.dedup import _banded_hamming_pairs

#: metadata struct carried next to every media binary column.
MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType(), False),   # image|audio|video
    T.StructField("format", T.StringType(), True),         # png|wav|mp4|...
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("size_bytes", T.LongType(), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
    T.StructField("n_bytes", T.LongType(), True),
])


def require_codec(name: str):
    """Import a media codec library or raise a clearly-marked stub error.
    The container ships none of these; real deployments install them on
    executors and this function starts returning modules."""
    try:
        return __import__(name)
    except ImportError as exc:  # pragma: no cover - exercised via fake path
        raise NotImplementedError(
            f"media codec '{name}' not available in this environment; "
            "multimodal decode is stubbed (deterministic fake features only)"
        ) from exc


#: 8-byte PNG file signature (public PNG spec, RFC 2083 §3.1).
PNG_SIGNATURE = bytes.fromhex("89504E470D0A1A0A")

#: JPEG start-of-frame markers that carry dimensions (ITU T.81 §B.2.2):
#: 0xC0-0xCF minus DHT (C4), JPG (C8), DAC (CC).
_JPEG_SOF_MARKERS = frozenset(
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC))



def _decode_rows(df: DataFrame, schema: T.StructType, decode,
                 id_col: str, payload_col: str, synth,
                 synth_cols=None) -> DataFrame:
    """The one Arrow-batched decode stage every media stats kernel runs:
    `decode(payload)` returns the kernel's row tails WITHOUT the id — a
    tuple for projection kernels, an iterable of tuples for fan-out
    kernels — and this runner prefixes the id and names the columns
    from `schema`. Quarantine policy: a payload's rows are emitted only
    if its WHOLE decode succeeds; any exception (bad magic, truncated
    stream, NULL payload) yields exactly one `(id, None, …)` row, so
    media pipelines quarantine bad payloads instead of crashing or
    emitting half a fan-out.

    With `synth` (a per-id payload builder, e.g. `_png_payload`, called
    as `synth(id, *synth_cols values)`) the fixture bytes are generated
    INSIDE the same Arrow stage as the decode: the encoded payload never
    crosses the JVM<->Python boundary at all, collapsing the encode-UDF
    -> JVM -> decode-kernel pipeline (two Python stages, payload
    serialized out and back in) into ONE mapInPandas stage. Identical
    bytes reach the decoder either way -- the synth functions are the
    SAME closed-form builders the `synthesize_*_column` UDFs delegate
    to (`_synth_column`), so oracles cannot drift. Production corpora
    (stored payload columns) keep `synth=None` and read `payload_col`."""
    names = schema.fieldNames()
    null_tail = (None,) * (len(names) - 1)
    arg_cols = ([synth_cols] if isinstance(synth_cols, str)
                else list(synth_cols or ()))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if synth is None:
                pairs = zip(pdf[id_col], pdf[payload_col])
            else:
                pairs = ((i, synth(int(i), *vals)) for i, *vals in
                         zip(pdf[id_col], *(pdf[c] for c in arg_cols)))
            rows = []
            for i, p in pairs:
                try:
                    out = decode(p)
                    tails = [out] if isinstance(out, tuple) else list(out)
                except Exception:  # ValueError / zlib.error / struct.error / …
                    tails = [null_tail]
                rows.extend((int(i), *t) for t in tails)
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(kernel, schema=schema)


def _synth_column(df: DataFrame, payload_fn, id_col: str, payload_col: str,
                  *arg_cols) -> DataFrame:
    """Attach `payload_fn(id, *arg values)` as a binary column — the one
    Arrow-batched fixture UDF behind every `synthesize_*_column`, so the
    column path and the fused `synth=` kernel path run the SAME builder.
    `arg_cols` are extra column names or Columns (e.g. a doc's text)."""
    @F.pandas_udf("binary")
    def _make(ids: pd.Series, *args: pd.Series) -> pd.Series:
        return pd.Series([payload_fn(int(i), *vals)
                          for i, *vals in zip(ids, *args)])

    return df.withColumn(payload_col, _make(
        F.col(id_col), *(F.col(c) if isinstance(c, str) else c
                         for c in arg_cols)))


def _wsum(values) -> int:
    """Order-sensitive position-weighted sum Σ (j+1)·vⱼ — the stat that
    catches a decoder which reorders, drops or duplicates values."""
    return sum((j + 1) * v for j, v in enumerate(values))


def _require_positive(**params) -> None:
    """Validate kernel parameters on the driver, before any job runs: a
    non-positive step never ends a sampling loop, and a non-positive
    size would fail inside every decode and quarantine valid payloads."""
    for name, value in params.items():
        if int(value) <= 0:
            raise ValueError(f"{name} must be positive, got {value!r}")


def png_dims(col) -> "F.Column":
    """(width, height) struct parsed from a PNG header with PURE
    expressions — no UDF, no codec. The IHDR chunk is mandatory-first, so
    width/height sit at fixed offsets: 8-byte signature, 4-byte length,
    4-byte 'IHDR', then two big-endian u32s (bytes 17-24, 1-based).
    Big-endian u32 → int via conv(hex(bytes), 16, 10). Non-PNG payloads
    (wrong signature / chunk tag / too short) yield nulls."""
    col = F.col(col) if isinstance(col, str) else col
    is_png = (F.length(col) >= 24) \
        & (F.substring(col, 1, 8) == F.lit(PNG_SIGNATURE)) \
        & (F.substring(col, 13, 4) == F.lit(b"IHDR"))
    u32 = lambda off: F.conv(F.hex(F.substring(col, off, 4)), 16, 10).cast("int")  # noqa: E731
    return F.struct(
        F.when(is_png, u32(17)).alias("width"),
        F.when(is_png, u32(21)).alias("height"),
    )


def parse_jpeg_dims(payload) -> "tuple[int | None, int | None]":
    """(width, height) from a JPEG byte stream by walking the marker
    segments (stdlib-only, no codec): skip SOI/standalone markers and
    length-prefixed segments (APP0/EXIF/quant tables/...) until a
    start-of-frame marker, whose segment is [len:2][precision:1]
    [height:2][width:2]. Returns (None, None) for non-JPEG or truncated
    input. This is header parsing, not decoding — entropy-coded data is
    never touched, so cost is O(#segments), not O(pixels)."""
    if payload is None or len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        return (None, None)
    i = 2
    n = len(payload)
    while i + 1 < n:
        if payload[i] != 0xFF:
            return (None, None)  # lost marker sync — corrupt header
        marker = payload[i + 1]
        if marker == 0xFF:       # fill byte padding before a marker
            i += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            i += 2               # standalone marker, no length field
            continue
        if i + 4 > n:
            return (None, None)
        seg_len = int.from_bytes(payload[i + 2:i + 4], "big")
        if marker in _JPEG_SOF_MARKERS:
            if i + 9 > n:
                return (None, None)
            height = int.from_bytes(payload[i + 5:i + 7], "big")
            width = int.from_bytes(payload[i + 7:i + 9], "big")
            return (width, height)
        i += 2 + seg_len
    return (None, None)


def jpeg_dims(col) -> "F.Column":
    """(width, height) struct for JPEG payloads via an Arrow-batched
    pandas UDF around `parse_jpeg_dims` — marker offsets vary per file
    (APP/EXIF segments), so unlike PNG this can't be a fixed-offset
    expression. Batch cost is a few dozen Python byte-reads per row
    (header segments only), amortized over Arrow transfer."""
    import pandas as pd  # noqa: F811 - local for the UDF closure

    @F.pandas_udf("struct<width:int,height:int>")
    def _udf(p: pd.Series) -> pd.DataFrame:
        dims = [parse_jpeg_dims(b) for b in p]
        return pd.DataFrame({"width": [d[0] for d in dims],
                             "height": [d[1] for d in dims]})

    return _udf(F.col(col) if isinstance(col, str) else col)


def attach_media_meta(df: DataFrame, binary_col: str, media_type: str,
                      fmt: str) -> DataFrame:
    """Wrap a binary column with the typed metadata struct.

    Metadata is parsed from the REAL payload when the format supports
    codec-free parsing — PNG dims via fixed-offset expressions
    (JVM-side), JPEG dims via the marker-walking pandas UDF, WAV
    duration via fixed-offset expressions over the canonical
    RIFF/fmt/data layout (JVM-side; non-canonical chunk orders fall
    back to null — use `wav_pcm_stats` for the full chunk walk), MP4
    duration via the box-walking pandas UDF — and null otherwise
    (including payloads that fail signature checks)."""
    if fmt == "png":
        dims = png_dims(binary_col)
    elif fmt in ("jpeg", "jpg"):
        dims = jpeg_dims(binary_col)
    else:
        dims = F.struct(F.lit(None).cast("int").alias("width"),
                        F.lit(None).cast("int").alias("height"))
    if fmt == "wav":
        duration = wav_duration_ms(binary_col)
    elif fmt in ("mp4", "m4a", "mov"):
        duration = mp4_duration_ms(binary_col)
    else:
        duration = F.lit(None).cast("long")
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            dims["width"].alias("width"),
            dims["height"].alias("height"),
            duration.alias("duration_ms"),
            F.length(F.col(binary_col)).cast("long").alias("size_bytes"),
        ),
    )


def wav_duration_ms(col) -> "F.Column":
    """duration_ms parsed from a CANONICAL WAV header with PURE
    expressions — no UDF: RIFF/WAVE signature, 16-byte PCM `fmt ` chunk
    first, `data` chunk immediately after (the layout `wav_codec.
    encode_wav` and most encoders emit). byte_rate sits at bytes 29-32
    and the data length at 41-44, both little-endian u32 →
    duration_ms = ⌊data_len · 1000 / byte_rate⌋. Files with extra
    chunks before `data` yield null (the full chunk walk lives in
    `wav_pcm_stats`) — a wrong-but-plausible duration is worse."""
    c = F.col(col) if isinstance(col, str) else col

    def u32le(off):  # little-endian u32 at 1-based byte offset
        return F.conv(F.hex(F.concat(
            F.substring(c, off + 3, 1), F.substring(c, off + 2, 1),
            F.substring(c, off + 1, 1), F.substring(c, off, 1))),
            16, 10).cast("long")

    canonical = (F.length(c) >= 44) \
        & (F.substring(c, 1, 4) == F.lit(b"RIFF")) \
        & (F.substring(c, 9, 8) == F.lit(b"WAVEfmt ")) \
        & (u32le(17) == 16) \
        & (F.substring(c, 37, 4) == F.lit(b"data")) \
        & (u32le(29) > 0)
    return F.when(canonical,
                  F.floor(u32le(41) * 1000 / u32le(29)).cast("long"))


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake 'decoder': byte-histogram-ish feature from the
    payload — stands in for image-embedding / mel-spectrogram kernels so the
    distributed plumbing is testable without codecs."""
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] = (acc[i % dim] + b) % 997
    return [float(x) / 997.0 for x in acc]


def extract_features(df: DataFrame, id_col: str = "doc_id",
                     binary_col: str = "payload", dim: int = 8,
                     use_real_codec: bool = False) -> DataFrame:
    """Decode + featurize media binaries via Arrow-batched mapInPandas.

    With `use_real_codec=True` this raises NotImplementedError until codec
    libraries exist on executors; the fake path exercises identical Spark
    plumbing (schema, batching, null handling).
    """
    media_type_col = "media_meta" if "media_meta" in df.columns else None

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if use_real_codec:
            require_codec("PIL")  # raises the documented stub error
        for pdf in batches:
            feats = [_fake_feature(p, dim) for p in pdf[binary_col]]
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "media_type": (
                    [m["media_type"] if m is not None else None for m in pdf[media_type_col]]
                    if media_type_col else [None] * len(pdf)
                ),
                "feature": feats,
                "n_bytes": [len(p) if p is not None else 0 for p in pdf[binary_col]],
            })

    return df.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per (doc, frame_ts) via
    sequence+explode on duration metadata — the expensive frame decode itself
    would be a mapInPandas kernel over (payload, frame_ts) rows. Fully
    JVM-side; demonstrates the fan-out shape without codecs."""
    return df.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"),
                       F.coalesce(F.col("media_meta.duration_ms"), F.lit(0)),
                       F.lit(every_ms).cast("long"))
        ).alias("frame_ts_ms"),
    )


def repartition_for_media(df: DataFrame, target_partition_bytes: int = 128 << 20,
                          size_col: str = "media_meta.size_bytes") -> DataFrame:
    """Repartition media rows so each partition holds ~target bytes, using the
    metadata size column — row-count-based splits are wrong when row sizes
    span 4 orders of magnitude."""
    total = df.select(F.sum(F.col(size_col)).alias("s")).head()["s"] or 0
    n = max(1, int(total // target_partition_bytes) + 1)
    return df.repartition(n)


def audio_segment_plan(df: DataFrame, segment_ms: int = 10_000,
                       sample_rate: int = 16_000,
                       bytes_per_sample: int = 2,
                       channels: int = 1) -> DataFrame:
    """Audio segmentation *plan*: one output row per (doc, segment) with
    the segment's time span AND its exact PCM byte range — the offsets a
    decode kernel seeks to, so executors read only their segment's bytes
    instead of materializing whole recordings (hour-long audio rows are
    the multimodal OOM hazard; segment fan-out is the fix, exactly like
    video frame sampling).

    Byte math is pure integer arithmetic over the metadata duration:
    offset = start_ms × rate × width × channels / 1000 (floor) — engine-
    exact and oracle-checkable. The final partial segment is kept. Fully
    JVM-side; the decode itself is the stubbed mapInPandas kernel."""
    frame_bytes = sample_rate * bytes_per_sample * channels
    dur = F.coalesce(F.col("media_meta.duration_ms"), F.lit(0))
    n_seg = F.greatest(
        F.lit(1),
        F.ceil(dur.cast("double") / F.lit(float(segment_ms))).cast("int"))
    seg = F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("segment_idx")
    start = F.col("segment_idx").cast("long") * segment_ms
    end = F.least(start + segment_ms, F.col("_dur"))
    return (
        df.select("doc_id", dur.alias("_dur"), seg)
        .select(
            "doc_id", "segment_idx",
            start.alias("start_ms"),
            end.alias("end_ms"),
            # frame_bytes is per SECOND; times are ms → ÷1000 (exact: the
            # products stay far under 2^53, so the double division is an
            # integer-valued double and the cast is lossless)
            ((start * frame_bytes) / 1000).cast("long").alias("byte_offset"),
            (((end - start) * frame_bytes) / 1000).cast("long")
            .alias("byte_length"),
        )
    )


def resize_plan(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Image resize *plan*: aspect-preserving fit-inside dimensions plus
    letterbox padding — the geometry half of a resize, computed JVM-side
    from metadata so the pixel kernel (stubbed; needs a codec) receives
    explicit target boxes instead of re-deriving them per executor.

    scale = min(target_w/w, target_h/h); out dims FLOOR (never rounds up
    past the box, and floor — unlike round — has no half-to-even
    cross-engine ambiguity, keeping the plan oracle-exact). Zero-area
    inputs pass through with null geometry."""
    w = F.col("media_meta.width").cast("double")
    h = F.col("media_meta.height").cast("double")
    scale = F.least(F.lit(float(target_w)) / w, F.lit(float(target_h)) / h)
    out_w = F.floor(w * scale).cast("int")
    out_h = F.floor(h * scale).cast("int")
    ok = w.isNotNull() & h.isNotNull() & (w > 0) & (h > 0)
    return df.select(
        "doc_id",
        F.col("media_meta.width").alias("src_w"),
        F.col("media_meta.height").alias("src_h"),
        F.when(ok, out_w).alias("out_w"),
        F.when(ok, out_h).alias("out_h"),
        F.when(ok, ((F.lit(target_w) - out_w) / 2).cast("int")).alias("pad_x"),
        F.when(ok, ((F.lit(target_h) - out_h) / 2).cast("int")).alias("pad_y"),
    )


def _png_payload(i: int) -> bytes:
    """The closed-form PNG fixture recipe (see `synthesize_png_column`)
    — ONE implementation shared by the single-format and mixed-media
    fixtures so the oracles can never drift apart."""
    from felixzh_flink_spark.functions.png_codec import encode_png

    w, h, ch = i % 7 + 1, i % 5 + 1, (i % 2) * 2 + 1
    px = bytes((i * 31 + 7 * j) % 256 for j in range(w * h * ch))
    return encode_png(w, h, px, ch, filter_type=i % 5)


#: the three GIF fixture palettes, built once (entry e = ((3e)%256,
#: (5e+1)%256, (7e+2)%256))
_GIF_PALETTES = {ps: bytes(v for e in range(ps)
                           for v in ((3 * e) % 256, (5 * e + 1) % 256,
                                     (7 * e + 2) % 256))
                 for ps in (4, 32, 256)}


def _gif_payload(i: int) -> bytes:
    """The closed-form GIF fixture recipe (see `synthesize_gif_column`)
    — shared by the single-format and mixed-media fixtures."""
    from felixzh_flink_spark.functions.gif_codec import encode_gif

    w, h = i % 7 + 1, i % 5 + 1
    ps = 1 << ((i % 3) * 3 + 2)
    idx = bytes((i * 31 + 7 * j) % ps for j in range(w * h))
    return encode_gif(w, h, idx, _GIF_PALETTES[ps],
                      interlace=(i % 2 == 0))


def _jpeg_color_payload(i: int, restart_interval: int = 0) -> bytes:
    """The closed-form color-JPEG fixture recipe (see
    `synthesize_jpeg_color_column`) — shared by the single-format and
    mixed-media fixtures."""
    from felixzh_flink_spark.functions.jpeg_codec import encode_jpeg_color

    s = 8 if i % 2 == 0 else 16
    nt = i % 3 + 1
    w, h = s * nt, s
    yv = [(i * 31 + 17 * t) % 256 for t in range(nt)]
    cbv = [(i * 47 + 29 * t) % 256 for t in range(nt)]
    crv = [(i * 59 + 43 * t) % 256 for t in range(nt)]
    y = bytes(yv[x // s] for _ in range(h) for x in range(w))
    if s == 8:
        cb = bytes(cbv[x // s] for _ in range(h) for x in range(w))
        cr = bytes(crv[x // s] for _ in range(h) for x in range(w))
        sub = "4:4:4"
    else:
        cw, chh = w // 2, h // 2
        cb = bytes(cbv[x // 8] for _ in range(chh) for x in range(cw))
        cr = bytes(crv[x // 8] for _ in range(chh) for x in range(cw))
        sub = "4:2:0"
    return encode_jpeg_color(w, h, y, cb, cr, sub,
                             restart_interval=restart_interval)


def synthesize_png_column(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "png") -> DataFrame:
    """Deterministic PNG fixture generator: attach a REAL encoded PNG
    binary per row, derived only from the id — width = id%7+1,
    height = id%5+1, channels = 1 or 3 (id parity), scanline filter =
    id%5 (cycling through all five PNG filters), pixel i =
    (id·31 + 7i) mod 256. Because the pixel recipe is closed-form, a
    SQL oracle can predict any statistic of the DECODED bytes without
    being able to decode — which is what lets the end-to-end
    encode→decode pipeline be driver-verified (`png_pixel_stats`).
    Arrow-batched pandas UDF; the zlib work is the honest per-row cost
    a real thumbnail fixture pipeline pays."""
    return _synth_column(df, _png_payload, id_col, payload_col)


def _image_envelope_bits(doc_id: int, grid: int = 8) -> list[int]:
    """Closed-form planted 64-bit CELL ENVELOPE for the grid=8 image
    fixture (the image face of `_envelope_bits`): per group
    (g = id div 4), each 16-cell band b draws its own 16-bit pattern
    p_b = ((g + b·7919)·40503 + 12345) mod 2¹⁶ (odd multiplier → per
    band a bijection in g, and the b·7919 shear decorrelates bands),
    cell c bright iff bit c mod 16 of p_(c div 16); cell 0 forced
    bright, the last cell forced dark (no degenerate all-one/all-zero
    hash); members 0,1 exact, member 2 flips cell 1, member 3 flips
    cells 1+2 — planted Hamming 0/1/2 confined to band 0 while bands
    1-3 stay group-unique. The r11 sf10 run showed WHY uniformity
    matters: the earlier near-uniform-mean pixel recipe made cell
    bits clustered near-ties, band buckets went quadratic at 500k
    images, and the candidate join OOM'd — hash uniformity is a
    property of the CONTENT the operator is honest about, so the
    fixture must supply it the way real image corpora do."""
    g, m = doc_id // 4, doc_id % 4
    n = grid * grid
    bits = []
    for b in range((n + 15) // 16):
        p = ((g + b * 7919) * 40503 + 12345) % 65536
        bits.extend((p >> w) & 1 for w in range(min(16, n - 16 * b)))
    bits[0], bits[n - 1] = 1, 0
    if m == 2:
        bits[1] ^= 1
    elif m == 3:
        bits[1] ^= 1
        bits[2] ^= 1
    return bits


def _png_large_payload(i: int) -> bytes:
    """The closed-form production-grid PNG fixture recipe (see
    `synthesize_png_large_column`)."""
    from felixzh_flink_spark.functions.png_codec import encode_png

    g = i // 4
    w, h, ch = g % 9 + 8, g % 7 + 8, (g % 2) * 2 + 1
    bits = _image_envelope_bits(i, 8)
    px = bytearray()
    for q in range(w * h):
        cell = ((q // w) * 8 // h) * 8 + ((q % w) * 8 // w)
        base = 192 if bits[cell] else 64
        for c in range(ch):
            t = q * ch + c
            px.append(base + t % 7 - 3)
    return encode_png(w, h, bytes(px), ch, filter_type=i % 5)


def synthesize_png_large_column(df: DataFrame, id_col: str = "doc_id",
                                payload_col: str = "png") -> DataFrame:
    """PRODUCTION-GRID image fixture for the grid=8 (64-bit hash)
    near-dup path: images fill every grid=8 cell — width = g%9+8
    (8..16), height = g%7+8 (8..14), channels 1 or 3 by group parity,
    scanline FILTER varying per member (id%5: identical pixels,
    byte-different PNG files that must hash identically) — and the
    pixel content realizes the planted cell envelope
    (`_image_envelope_bits`): bytes of a bright cell sit at
    192 + ripple, dark cells at 64 + ripple (ripple = t mod 7 − 3, so
    the decode is not constant-folding anything), a 128-level
    separation the cell-mean bit rule recovers EXACTLY. Fingerprint
    Hamming distance therefore equals envelope distance by
    construction — planted 0/1/2 within groups, uniform 64-bit hashes
    across groups (selective 16-bit band buckets at any corpus size).
    Closed form end-to-end: the oracle replays envelope → byte value →
    luminance → floor cell map → bit rule without decoding a PNG."""
    return _synth_column(df, _png_large_payload, id_col, payload_col)


PNG_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("pixel_sum", T.LongType(), True),
    T.StructField("pixel_wsum", T.LongType(), True),
])


def png_pixel_stats(df: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "png",
                    synth=None) -> DataFrame:
    """REAL pixel decode (no stub): inflate + unfilter each PNG payload
    with the pure-stdlib codec (`functions/png_codec`) and emit decoded
    geometry plus two pixel aggregates — pixel_sum = Σ pᵢ and the
    position-weighted pixel_wsum = Σ (i+1)·pᵢ, which is sensitive to
    byte ORDER, so a decoder that shuffled or mis-unfiltered scanlines
    cannot pass. Undecodable payloads yield null stats (media pipelines
    quarantine, they don't crash).

    Scale shape: one Arrow-batched mapInPandas projection — per-row
    Python is the documented slow path for pixel work; partitions decode
    independently (pair with `repartition_for_media` for byte-balanced
    tasks) and nothing shuffles."""
    from felixzh_flink_spark.functions.png_codec import decode_png

    def decode(p):
        w, h, ch, px = decode_png(p)
        return (w, h, ch, sum(px), _wsum(px))

    return _decode_rows(df, PNG_STATS_SCHEMA, decode, id_col, payload_col,
                        synth)


AHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("cell_sums", T.ArrayType(T.LongType()), True),
    T.StructField("cell_counts", T.ArrayType(T.LongType()), True),
    T.StructField("lum_total", T.LongType(), True),
    T.StructField("npx", T.LongType(), True),
])


def image_ahash_cells(df: DataFrame, id_col: str = "doc_id",
                      payload_col: str = "png",
                      grid: int = 4,
                      synth=None) -> DataFrame:
    """Stage 1 of PERCEPTUAL image hashing (average hash, the classic
    pHash-family member): REAL pixel decode (`functions/png_codec`) →
    per-pixel integer luminance (channel sum; grayscale scaled ×3 so
    both channel layouts live on one scale — per-image uniform scaling
    cannot move an aHash bit) → a grid×grid box-downsample as INTEGER
    cell sums: pixel (x, y) lands in cell (y·grid div h, x·grid div w),
    the floor mapping every resizer uses, so each cell's sum and pixel
    count come out exact — no float resampling, no rounding policy to
    match across engines. Emits (cell_sums, cell_counts, total, npx)
    per image; bit derivation stays JVM-side (`image_ahash_bits`) so
    the Arrow kernel moves O(grid²) ints per image, never pixels.
    Undecodable payloads yield null rows (quarantine, don't crash)."""
    from felixzh_flink_spark.functions.png_codec import decode_png

    _require_positive(grid=grid)
    g = int(grid)

    def decode(p):
        w, h, ch, px = decode_png(p)
        sums = [0] * (g * g)
        counts = [0] * (g * g)
        for y in range(h):
            row_off = y * w * ch
            cy = y * g // h
            for x in range(w):
                o = row_off + x * ch
                if ch <= 2:   # gray / gray+alpha: drop alpha
                    lum = 3 * px[o]
                else:         # rgb / rgba: alpha dropped
                    lum = px[o] + px[o + 1] + px[o + 2]
                c = cy * g + (x * g // w)
                sums[c] += lum
                counts[c] += 1
        return (w, h, sums, counts, sum(sums), w * h)

    return _decode_rows(df, AHASH_SCHEMA, decode, id_col, payload_col,
                        synth)


def audio_fingerprint_cells(df: DataFrame, id_col: str = "doc_id",
                            payload_col: str = "wav",
                            windows: int = 16,
                            synth=None) -> DataFrame:
    """AUDIO fingerprinting, stage 1 — the WAV analog of
    `image_ahash_cells` (one hash/band machinery, per-modality decode
    kernels): REAL PCM decode (`functions/wav_codec`) → interleaved
    channels mixed down to integer mono frames → the frame sequence
    box-partitioned into `windows` time windows (frame f of L lands in
    window f·windows div L — the same floor mapping as the image grid)
    → exact integer window ENERGIES (Σ mono², the energy envelope a
    Shazam-style fingerprint thresholds). Emits the SAME schema as the
    image kernel (cell_sums = window energies, cell_counts = frames
    per window, lum_total = total energy, npx = frames), so
    `image_ahash_bits` (energy-above-mean bit per window, exact integer
    cross-multiplication) and `image_neardup_pairs` (banded Hamming
    join) apply UNCHANGED — text, embeddings, images, and audio all
    dedup through one discipline. Undecodable payloads yield nulls."""
    from felixzh_flink_spark.functions.wav_codec import decode_wav

    _require_positive(windows=windows)
    nw = int(windows)

    def decode(p):
        _rate, ch, _bits, samples = decode_wav(p)
        frames = len(samples) // ch
        sums = [0] * nw
        counts = [0] * nw
        total = 0
        for f in range(frames):
            mono = sum(samples[f * ch:(f + 1) * ch])
            e = mono * mono
            w = f * nw // frames
            sums[w] += e
            counts[w] += 1
            total += e
        return (None, None, sums, counts, total, frames)

    return _decode_rows(df, AHASH_SCHEMA, decode, id_col, payload_col,
                        synth)


def image_ahash_bits(cells_df: DataFrame, grid: int = 4) -> DataFrame:
    """Stage 2: aHash bits from the integer cell stats, pure JVM
    expressions — bit_c = 1 iff the cell's MEAN luminance exceeds the
    image mean, decided by exact integer cross-multiplication
    (cell_sum·npx > total·cell_count — no divisions, so cross-engine
    parity is unconditional; empty cells of tiny images get bit 0 from
    0 > 0). Adds `bits` (array of grid² ints, row-major) and `ahash`
    (the bits packed big-endian into one integer; null when grid² > 63
    bits — a signed BIGINT cannot hold the 64-bit grid=8 pack, and
    under Spark 4 ANSI mode the overflow would throw mid-query.
    Downstream near-dup joins consume `bits`, never `ahash`, so the
    gate costs nothing at production grid=8)."""
    n = int(grid) * int(grid)
    bit = (
        f"transform(sequence(0, {n - 1}), c -> CAST("
        "element_at(cell_sums, c + 1) * npx > "
        "lum_total * element_at(cell_counts, c + 1) AS INT))")
    pack = ("aggregate(bits, CAST(0 AS BIGINT), (acc, b) -> acc * 2 + b)"
            if n <= 63 else "CAST(NULL AS BIGINT)")
    return (cells_df
            .withColumn("bits", F.expr(bit))
            .withColumn("ahash", F.expr(pack)))


def image_neardup_pairs(hashed: DataFrame, grid: int = 4,
                        bands: int = 4, max_hamming: int = 2,
                        id_col: str = "doc_id") -> DataFrame:
    """Stage 3: perceptual NEAR-DUP pairs — the image face of the
    banded-LSH discipline every dedup path in this engine follows
    (never all-pairs): the grid² hash bits split into `bands`
    contiguous bands; by pigeonhole two hashes within Hamming distance
    < bands must agree on ≥ 1 whole band, so the candidate join is an
    EQUI-join on (band_index, band_value) and exact Hamming (Σ|bitᵃ −
    bitᵇ|, pure integers) verifies only collisions. At fixture scale
    (4×4 = 16-bit hashes over ≤ 7×5 images) band values are 4-bit and
    buckets are coarse; production images take grid=8 (64-bit hash,
    16-bit bands), where the same plan's buckets turn selective — the
    operator is parameterized for exactly that. Returns
    (id_a, id_b, hamming), id_a < id_b, each verified pair once."""
    n = int(grid) * int(grid)
    assert n % bands == 0
    assert n <= 64, "packed-long hash: grid² must fit one BIGINT"
    # r12: the whole hash packs big-endian into ONE BIGINT (shiftleft|or
    # — pure bit ops, no ANSI overflow even at the 64-bit grid=8 pack
    # that `ahash`'s arithmetic fold must null out). Band values come
    # from shift/mask off the packed word (identical integers to the
    # old per-band slice+fold: both read the same bits big-endian), and
    # the exact verify is bit_count(xor) — identical to Σ|bitᵃ−bitᵇ|
    # on 0/1 ints. The verify join then moves 8 BYTES per image instead
    # of a grid² int array (the r11 sf1 band-join fix, applied to the
    # verify side: bits crossed the wire per image as ~300-byte arrays).
    pack = ("aggregate(bits, CAST(0 AS BIGINT), "
            "(acc, x) -> shiftleft(acc, 1) | CAST(x AS BIGINT))")
    alive = (hashed.filter(F.col("bits").isNotNull())
             .select(F.col(id_col).alias("id"), F.expr(pack).alias("_pb")))
    return _banded_hamming_pairs(alive, n, bands, max_hamming)


def _wav_payload(i: int) -> bytes:
    """The closed-form PCM-WAV fixture recipe (see
    `synthesize_wav_column`) — shared by the column UDF and the fused
    `synth=` kernels."""
    from felixzh_flink_spark.functions.wav_codec import encode_wav

    ch = i % 2 + 1
    n = (i % 25 + 4) * ch
    samples = [((i * 37 + 11 * j) % 65536) - 32768 for j in range(n)]
    return encode_wav(samples, 8000 + (i % 3) * 4000, ch, 16)


def synthesize_wav_column(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "wav") -> DataFrame:
    """Deterministic WAV fixture generator (`png` analog for audio):
    channels = id%2+1, sample_rate = 8000 + (id%3)·4000, 16-bit PCM,
    (id%25+4)·channels interleaved samples with sample i =
    ((id·37 + 11i) mod 65536) − 32768. Closed-form recipe → a SQL
    oracle can predict any statistic of the DECODED samples, which is
    what lets the encode→decode audio pipeline be driver-verified
    (`wav_pcm_stats`)."""
    return _synth_column(df, _wav_payload, id_col, payload_col)


def _envelope_bits(doc_id: int, windows: int = 16) -> list[int]:
    """Closed-form loud/quiet ENVELOPE for the near-dup audio fixture
    (shared by the Spark synthesizer and, re-derived in SQL, by the
    DuckDB oracle): clips come in GROUPS of 4 (g = id div 4) with a
    per-group 16-bit base pattern p = (g·40503 + 12345) mod 2¹⁶
    (window w loud iff bit w of p; window 0 forced loud and window 15
    forced quiet so no clip is degenerate all-loud/all-quiet), and the
    group members PLANT known Hamming distances: members 0,1 carry the
    exact pattern (a Hamming-0 dup pair), member 2 flips window 1
    (Hamming 1), member 3 flips windows 1 and 2 (Hamming 2 from the
    base, 1 from member 2). Because loud windows sit far above the
    clip's mean energy and quiet ones at zero, the energy-above-mean
    bit rule recovers the envelope EXACTLY for any loud count in
    [1, 15] — so fingerprint Hamming distance equals envelope Hamming
    distance by construction, and the fixture exercises the
    interesting 1-2 band of the near-dup join against a diverse
    background instead of the r10 fixture's Hamming-0-only corner.
    For windows > 16 the 16-bit pattern TILES (window w loud iff bit
    w mod 16 of p) — the production 64-window fingerprint keeps one
    pattern per group (40503 is odd, so g → p is a bijection mod 2¹⁶:
    distinct groups collide on a band only by genuine envelope
    equality), and the planted flips stay at windows 1-2, so group
    members differ in band 0 alone and the other bands recover them as
    candidates."""
    g, m = doc_id // 4, doc_id % 4
    p = (g * 40503 + 12345) % 65536
    bits = [(p >> (w % 16)) & 1 for w in range(windows)]
    bits[0], bits[windows - 1] = 1, 0
    if m == 2:
        bits[1] ^= 1
    elif m == 3:
        bits[1] ^= 1
        bits[2] ^= 1
    return bits


def _wav_envelope_payload_fn(windows: int = 16,
                             frames_per_window: int = 4,
                             amp: int = 16384):
    """Per-id builder for the planted-envelope WAV fixture (see
    `synthesize_wav_envelope_column`) — returns a closure usable as a
    fused `synth=` kernel argument."""
    from felixzh_flink_spark.functions.wav_codec import encode_wav

    nw, fpw, a = int(windows), int(frames_per_window), int(amp)

    def _payload(i: int) -> bytes:
        ch = i % 2 + 1
        bits = _envelope_bits(i, nw)
        samples: list[int] = []
        for w in range(nw):
            mono = a if bits[w] else 0
            for _ in range(fpw):
                if ch == 1:
                    samples.append(mono)
                else:
                    samples.extend((mono // 2, mono - mono // 2))
        return encode_wav(samples, 8000 + (i % 3) * 4000, ch, 16)

    return _payload


def synthesize_wav_envelope_column(df: DataFrame, id_col: str = "doc_id",
                                   payload_col: str = "wav",
                                   windows: int = 16,
                                   frames_per_window: int = 4,
                                   amp: int = 16384) -> DataFrame:
    """Near-dup audio fixture generator: real 16-bit PCM WAVs whose
    loud/quiet envelope follows `_envelope_bits` — loud windows hold
    `frames_per_window` frames of constant mono amplitude `amp`, quiet
    windows silence; stereo clips (ch = id%2+1) split each frame as
    (amp div 2, amp − amp div 2) so the decoder's mixdown recovers the
    exact mono value. Closed form end-to-end, so the DuckDB oracle
    replays decoded frames → window energies → bits without decoding
    a byte, while Spark runs the REAL encode→decode chain — a decoder
    or mixdown bug changes energies and fails the hash."""
    return _synth_column(
        df, _wav_envelope_payload_fn(windows, frames_per_window, amp),
        id_col, payload_col)


WAV_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("sample_sum", T.LongType(), True),
    T.StructField("sample_wsum", T.LongType(), True),
])


def wav_pcm_stats(df: DataFrame, id_col: str = "doc_id",
                  payload_col: str = "wav",
                  synth=None) -> DataFrame:
    """REAL audio decode (no stub): walk each RIFF payload's chunks and
    unpack the PCM samples with the pure-stdlib codec
    (`functions/wav_codec`), emitting decoded format fields plus
    sample_sum = Σ sᵢ and the order-sensitive sample_wsum = Σ (i+1)·sᵢ
    — a decoder that drops, reorders or mis-signs samples cannot pass.
    Undecodable payloads yield null stats (quarantine, don't crash).
    Same scale shape as `png_pixel_stats`: one Arrow-batched
    mapInPandas projection, no shuffle."""
    from felixzh_flink_spark.functions.wav_codec import decode_wav

    def decode(p):
        rate, ch, _bits, samples = decode_wav(p)
        return (rate, ch, len(samples), sum(samples), _wsum(samples))

    return _decode_rows(df, WAV_STATS_SCHEMA, decode, id_col, payload_col,
                        synth)


def parse_mp4_duration(payload) -> "int | None":
    """Duration in ms from an ISO-BMFF (MP4) byte stream by walking the
    box tree (stdlib-only, no codec): top-level boxes are
    [size:4][type:4] (size=1 → 64-bit largesize follows); `moov` nests
    `mvhd`, whose version-0 layout carries [timescale:u32][duration:u32]
    at offset 12 of the box body (version 1: u64 duration at offset 20
    after u64 times). Returns None for non-MP4 / truncated input.
    Header parsing only — sample data (mdat) is never touched, so cost
    is O(#boxes), not O(frames): the at-scale contract shared with the
    JPEG marker walk."""
    if payload is None or len(payload) < 8:
        return None

    def walk(buf, start, end):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos:pos + 4], "big")
            btype = buf[pos + 4:pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    return None
                size = int.from_bytes(buf[pos + 8:pos + 16], "big")
                hdr = 16
            elif size == 0:          # box extends to end of file
                size = end - pos
            if size < hdr or pos + size > end:
                return None
            if btype == b"moov":
                got = walk(buf, pos + hdr, pos + size)
                if got is not None:
                    return got
            elif btype == b"mvhd":
                body = buf[pos + hdr:pos + size]
                if len(body) < 4:
                    return None
                version = body[0]
                if version == 0 and len(body) >= 20:
                    timescale = int.from_bytes(body[12:16], "big")
                    duration = int.from_bytes(body[16:20], "big")
                elif version == 1 and len(body) >= 32:
                    timescale = int.from_bytes(body[20:24], "big")
                    duration = int.from_bytes(body[24:32], "big")
                else:
                    return None
                if timescale == 0:
                    return None
                return duration * 1000 // timescale
            pos += size
        return None

    # sanity: a real MP4 starts with a well-formed box, typically ftyp
    first = payload[4:8]
    if not first.isalnum() and first not in (b"ftyp", b"moov", b"wide"):
        return None
    return walk(payload, 0, len(payload))


def mp4_duration_ms(col) -> "F.Column":
    """duration_ms column for MP4 payloads via an Arrow-batched pandas
    UDF around `parse_mp4_duration` — box offsets vary per file, so like
    JPEG this can't be a fixed-offset expression."""
    @F.pandas_udf("long")
    def _udf(p: pd.Series) -> pd.Series:
        return pd.Series([parse_mp4_duration(b) for b in p],
                         dtype="object")

    return _udf(F.col(col) if isinstance(col, str) else col)


def synthesize_mp4_header(duration_ms: int, timescale: int = 1000,
                          version: int = 0) -> bytes:
    """Minimal valid ISO-BMFF header fixture: ftyp + moov(mvhd) with the
    given duration/timescale (no media data — the parser's contract is
    header-only). Used by tests and the `mp4_duration_meta` oracle
    query; a real camera file parses through the same walker."""
    import struct as _struct
    duration = duration_ms * timescale // 1000
    if version == 0:
        body = bytes([0, 0, 0, 0]) + b"\x00" * 8 \
            + _struct.pack(">II", timescale, duration) + b"\x00" * 80
    else:
        body = bytes([1, 0, 0, 0]) + b"\x00" * 16 \
            + _struct.pack(">IQ", timescale, duration) + b"\x00" * 80
    mvhd = _struct.pack(">I", 8 + len(body)) + b"mvhd" + body
    moov = _struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = _struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    return ftyp + moov


def _mp4_payload(i: int) -> bytes:
    """The closed-form MP4 header fixture recipe (see
    `synthesize_mp4_column`)."""
    return synthesize_mp4_header(i % 120000 + 1000, 1000 * (i % 3 + 1),
                                 i % 2)


def synthesize_mp4_column(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "mp4") -> DataFrame:
    """Deterministic MP4 header fixture generator: duration_ms =
    id%120000 + 1000, timescale = 1000·(id%3+1), mvhd version = id%2 —
    timescales are multiples of 1000, so the ms round-trip is exact and
    a SQL oracle can predict the parsed duration in closed form."""
    return _synth_column(df, _mp4_payload, id_col, payload_col)


THUMB_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("out_w", T.IntegerType(), True),
    T.StructField("out_h", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("thumb_sum", T.LongType(), True),
    T.StructField("thumb_wsum", T.LongType(), True),
])


def png_thumbnail_stats(df: DataFrame, out_w: int, out_h: int,
                        id_col: str = "doc_id",
                        payload_col: str = "png",
                        synth=None) -> DataFrame:
    """REAL pixel RESIZE on REAL decoded pixels — the kernel half of
    `resize_plan`'s geometry, runnable because the PNG decode is no
    longer stubbed: inflate + unfilter each payload
    (`functions/png_codec`), nearest-neighbor sample it to
    (out_w, out_h) with the standard floor mapping
    src_x = ⌊x·w/out_w⌋, src_y = ⌊y·h/out_h⌋ (per channel), and emit
    the thumbnail's pixel_sum and order-sensitive position-weighted
    sum. The arithmetic is pure integer index mapping, so a SQL oracle
    can predict both statistics of the RESIZED image from the fixture
    recipe — decode, filter-undo, and resampling all verified in one
    hash (`png_thumbnail_stats` registry query). Undecodable payloads
    yield null stats. Same scale shape as the other media kernels: one
    Arrow-batched mapInPandas projection, no shuffle."""
    from felixzh_flink_spark.functions.png_codec import decode_png

    def decode(p):
        w, h, ch, px = decode_png(p)
        out = []
        for y in range(out_h):
            sy = y * h // out_h
            for x in range(out_w):
                sx = x * w // out_w
                base = (sy * w + sx) * ch
                out.extend(px[base:base + ch])
        return (out_w, out_h, ch, sum(out), _wsum(out))

    return _decode_rows(df, THUMB_STATS_SCHEMA, decode, id_col,
                        payload_col, synth)


def synthesize_gif_column(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "gif") -> DataFrame:
    """Deterministic GIF fixture generator (the `png` analog for
    palette images): attach a REAL encoded GIF per row — width =
    id%7+1, height = id%5+1, palette of 2^((id%3)·3+2) colors (4, 32
    or 256 — exercising LZW min code sizes 2, 5 and 8), interlaced for
    even ids, index j = (id·31 + 7j) mod palette_size, palette entry e
    = ((3e)%256, (5e+1)%256, (7e+2)%256). Closed-form recipe → a SQL
    oracle predicts any statistic of the DECODED indices/RGB without
    decoding (`gif_pixel_stats`). Arrow-batched pandas UDF."""
    return _synth_column(df, _gif_payload, id_col, payload_col)


GIF_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("palette_size", T.IntegerType(), True),
    T.StructField("idx_sum", T.LongType(), True),
    T.StructField("idx_wsum", T.LongType(), True),
    T.StructField("rgb_sum", T.LongType(), True),
])


def gif_pixel_stats(df: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "gif",
                    synth=None) -> DataFrame:
    """REAL GIF decode (no stub): LZW-decompress each payload with the
    pure-stdlib codec (`functions/gif_codec` — variable-width codes,
    dictionary growth/reset, KwKwK, de-interlacing) and emit decoded
    geometry plus three aggregates — idx_sum = Σ indexᵢ, the
    order-sensitive idx_wsum = Σ (j+1)·indexⱼ (an interlace kernel
    that fails to reorder rows cannot pass), and rgb_sum = Σ (r+g+b)
    through the palette (a decoder that returns raw codes instead of
    palette lookups cannot pass). Undecodable payloads yield null
    stats. One Arrow-batched mapInPandas projection, no shuffle."""
    from felixzh_flink_spark.functions.gif_codec import decode_gif

    def decode(p):
        w, h, pal, idx = decode_gif(p)
        rgb = sum(pal[3 * b] + pal[3 * b + 1] + pal[3 * b + 2] for b in idx)
        return (w, h, len(pal) // 3, sum(idx), _wsum(idx), rgb)

    return _decode_rows(df, GIF_STATS_SCHEMA, decode, id_col, payload_col,
                        synth)


def _jpeg_payload(i: int) -> bytes:
    """The closed-form grayscale-JPEG fixture recipe (see
    `synthesize_jpeg_column`) — shared by the column UDF and the fused
    `synth=` kernels."""
    from felixzh_flink_spark.functions.jpeg_codec import encode_jpeg_gray

    w, h = (i % 3 + 1) * 8, (i % 2 + 1) * 8
    px = bytes((i * 31 + 17 * ((y // 8) * (w // 8) + x // 8)) % 256
               for y in range(h) for x in range(w))
    return encode_jpeg_gray(w, h, px,
                            restart_interval=2 if i % 5 == 0 else 0)


def synthesize_jpeg_column(df: DataFrame, id_col: str = "doc_id",
                           payload_col: str = "jpeg") -> DataFrame:
    """Deterministic baseline-JPEG fixture generator: a REAL encoded
    grayscale JPEG per row — width = (id%3+1)·8, height = (id%2+1)·8,
    composed of FLAT 8×8 tiles with tile t = (id·31 + 17t) mod 256,
    restart interval 2 for ids divisible by 5 (exercising RSTn
    handling). Flat tiles carry only a DC coefficient, which the all-8s
    quantizer preserves EXACTLY (see `functions/jpeg_codec`), so the
    lossy pipeline is bit-lossless on this recipe and a SQL oracle can
    predict the DECODED pixels (`jpeg_pixel_stats` /
    `jpeg_decode_stats`). Arrow-batched pandas UDF."""
    return _synth_column(df, _jpeg_payload, id_col, payload_col)


JPEG_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("pixel_sum", T.LongType(), True),
    T.StructField("pixel_wsum", T.LongType(), True),
])


def jpeg_pixel_stats(df: DataFrame, id_col: str = "doc_id",
                     payload_col: str = "jpeg",
                     synth=None) -> DataFrame:
    """REAL baseline-JPEG decode (no stub, no libjpeg): Huffman-decode,
    dequantize and inverse-DCT each payload with the pure-Python+numpy
    codec (`functions/jpeg_codec`) and emit decoded geometry plus
    pixel_sum = Σ pᵢ and the order-sensitive pixel_wsum = Σ (i+1)·pᵢ —
    a decoder that mis-orders blocks, drops a restart reset, or
    mis-extends a Huffman magnitude cannot pass. Undecodable payloads
    yield null stats. One Arrow-batched mapInPandas projection, no
    shuffle — the same scale shape as the PNG/GIF/WAV kernels."""
    from felixzh_flink_spark.functions.jpeg_codec import decode_jpeg_gray

    def decode(p):
        w, h, px = decode_jpeg_gray(p)
        return (w, h, sum(px), _wsum(px))

    return _decode_rows(df, JPEG_STATS_SCHEMA, decode, id_col, payload_col,
                        synth)


def _jpeg_color_fixture_payload(i: int) -> bytes:
    """`_jpeg_color_payload` with the fixture's restart-interval rule
    (RSTn every 2 MCUs for ids divisible by 5) — the exact per-id
    builder `synthesize_jpeg_color_column` emits."""
    return _jpeg_color_payload(i, restart_interval=2 if i % 5 == 0 else 0)


def synthesize_jpeg_color_column(df: DataFrame, id_col: str = "doc_id",
                                 payload_col: str = "jpeg") -> DataFrame:
    """Deterministic COLOR baseline-JPEG fixture generator: a REAL
    interleaved-scan YCbCr JPEG per row. Even ids are 4:4:4 (8×8 flat
    tiles), odd ids 4:2:0 (16×16 flat tiles — flat through the 2×2 box
    subsample); width = s·(id%3+1), height = s, tile t carries
    Y=(id·31+17t)%256, Cb=(id·47+29t)%256, Cr=(id·59+43t)%256; restart
    interval 2 for ids divisible by 5 (RSTn resets all three DC
    predictors). Flat tiles quantize exactly under the all-8s tables,
    so the decoded YCbCr planes are bit-exact and the decoded RGB is
    the closed-form floor(x+0.5) conversion of the recipe — a SQL
    oracle predicts every decoded byte. Arrow-batched pandas UDF."""
    return _synth_column(df, _jpeg_color_fixture_payload, id_col,
                         payload_col)


JPEG_COLOR_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("r_sum", T.LongType(), True),
    T.StructField("g_sum", T.LongType(), True),
    T.StructField("b_sum", T.LongType(), True),
    T.StructField("rgb_wsum", T.LongType(), True),
])


def jpeg_color_stats(df: DataFrame, id_col: str = "doc_id",
                     payload_col: str = "jpeg",
                     synth=None) -> DataFrame:
    """REAL color-JPEG decode (no stub, no libjpeg): Huffman-decode the
    interleaved MCU scan, dequantize, inverse-DCT all three component
    planes, upsample 4:2:0 chroma, and convert to RGB with the
    exact-rounding `ycbcr_to_rgb` (`functions/jpeg_codec`). Emits
    per-channel sums plus the pixel-order-sensitive
    rgb_wsum = Σ (i+1)·(rᵢ+gᵢ+bᵢ) — a decoder that swaps chroma
    planes, mis-places an MCU block, or upsamples off-by-one cannot
    pass. Undecodable payloads yield null stats. One Arrow-batched
    mapInPandas projection, no shuffle."""
    import numpy as np

    from felixzh_flink_spark.functions.jpeg_codec import decode_jpeg_color

    def decode(p):
        w, h, rgb = decode_jpeg_color(p)
        a = np.frombuffer(rgb, np.uint8).astype(np.int64).reshape(-1, 3)
        wsum = int(((np.arange(len(a)) + 1) * a.sum(axis=1)).sum())
        return (w, h, int(a[:, 0].sum()), int(a[:, 1].sum()),
                int(a[:, 2].sum()), wsum)

    return _decode_rows(df, JPEG_COLOR_STATS_SCHEMA, decode, id_col,
                        payload_col, synth)


#: the 4-color fixture palette shared by the animated/composited GIFs
_GIF_PAL4 = bytes(v for e in range(4)
                  for v in ((3 * e) % 256, (5 * e + 1) % 256,
                            (7 * e + 2) % 256))


def _gif_anim_payload(i: int) -> bytes:
    """The closed-form animated-GIF fixture recipe (see
    `synthesize_gif_animation_column`)."""
    from felixzh_flink_spark.functions.gif_codec import encode_gif_animation

    w, h = i % 5 + 2, i % 4 + 2
    n = i % 4 + 2
    delay = (i % 3 + 1) * 40
    frames = [(delay, bytes((i * 31 + 13 * f + 7 * j) % 4
                            for j in range(w * h)))
              for f in range(n)]
    return encode_gif_animation(w, h, _GIF_PAL4, frames,
                                interlace=(i % 7 == 0))


def synthesize_gif_animation_column(df: DataFrame, id_col: str = "doc_id",
                                    payload_col: str = "gif") -> DataFrame:
    """Deterministic ANIMATED-GIF fixture generator: a REAL multi-frame
    GIF89a per row — width = id%5+2, height = id%4+2, n_frames =
    id%4+2, uniform per-frame delay (id%3+1)·40 ms carried in real
    Graphic Control Extensions, 4-color palette (entry e =
    ((3e)%256, (5e+1)%256, (7e+2)%256)), frame f pixel j index =
    (id·31 + 13f + 7j) mod 4, interlaced frames for ids divisible by
    7, plus a NETSCAPE2.0 loop extension the decoder must skip.
    Closed-form recipe → a SQL oracle predicts any statistic of any
    SAMPLED frame without decoding (`gif_frame_sample_stats`).
    Arrow-batched pandas UDF."""
    return _synth_column(df, _gif_anim_payload, id_col, payload_col)


GIF_FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_ms", T.LongType(), True),
    T.StructField("frame_idx", T.IntegerType(), True),
    T.StructField("idx_sum", T.LongType(), True),
    T.StructField("idx_wsum", T.LongType(), True),
])


def gif_frame_sample_stats(df: DataFrame, every_ms: int = 100,
                           id_col: str = "doc_id",
                           payload_col: str = "gif",
                           synth=None) -> DataFrame:
    """REAL frame sampling over decoded animation frames —
    `frame_sample_plan`'s geometry with the actual decode kernel the
    plan was staged for: LZW-decode every frame of each animated GIF
    (`functions/gif_codec.decode_gif_frames`), build the display
    timeline from the frames' own GCE delays, and for each sample
    instant t = k·every_ms inside the animation emit the frame on
    screen at t with order-sensitive pixel stats (idx_sum = Σ index,
    idx_wsum = Σ (j+1)·indexⱼ — wrong de-interlacing or frame
    mis-ordering cannot pass). Undecodable payloads yield a single
    null-stats quarantine row. One Arrow-batched mapInPandas fan-out,
    no shuffle — frames scale the OUTPUT rows, not driver memory."""
    from felixzh_flink_spark.functions.gif_codec import decode_gif_frames

    _require_positive(every_ms=every_ms)

    def decode(p):
        _, _, _, frames = decode_gif_frames(p)
        starts = []
        t = 0
        for delay, _idx in frames:
            starts.append(t)
            t += delay
        total = t
        if total == 0:
            # all-zero GCE delays (or a plain single-image GIF): the
            # clip has no duration, but the doc must not vanish from
            # the output — emit the t=0 sample showing the final frame
            # (the one "on screen" after zero-delay flips)
            idx = frames[-1][1]
            yield (0, len(frames) - 1, sum(idx), _wsum(idx))
            return
        k = 0
        fi = 0
        while k * every_ms < total:
            s = k * every_ms
            while fi + 1 < len(frames) and starts[fi + 1] <= s:
                fi += 1
            idx = frames[fi][1]
            yield (s, fi, sum(idx), _wsum(idx))
            k += 1

    return _decode_rows(df, GIF_FRAME_SAMPLE_SCHEMA, decode, id_col,
                        payload_col, synth)


def _gif_comp_payload(i: int) -> bytes:
    """The closed-form delta-frame GIF fixture recipe (see
    `synthesize_gif_composited_column`)."""
    from felixzh_flink_spark.functions.gif_codec import \
        encode_gif_composited

    w, h = i % 4 + 4, i % 3 + 4
    n = i % 4 + 2
    delay = (i % 3 + 1) * 40
    frames = [(delay, 0, 0, w, h,
               bytes((i * 31 + 7 * j) % 4 for j in range(w * h)),
               1, None)]
    for f in range(1, n):
        frames.append((delay, (i + 3 * f) % (w - 1),
                       (i + 5 * f) % (h - 1), 2, 2,
                       bytes((i * 31 + 13 * f + 7 * u) % 4
                             for u in range(4)),
                       1 + (i + f) % 3, (i + f) % 4))
    return encode_gif_composited(w, h, _GIF_PAL4, i % 4, frames)


def synthesize_gif_composited_column(df: DataFrame, id_col: str = "doc_id",
                                     payload_col: str = "gif") -> DataFrame:
    """Deterministic DELTA-FRAME animation fixture: a REAL GIF89a per
    row whose frames after the first are 2×2 sub-rectangle patches —
    P-frame-style partial updates over the shared canvas. Canvas
    W = id%4+4, H = id%3+4, background index id%4, n = id%4+2 frames,
    delay (id%3+1)·40 ms, 4-color palette (entry e = ((3e)%256,
    (5e+1)%256, (7e+2)%256)). Frame 0 is a full-rect base (pixel j =
    (id·31+7j) mod 4, disposal LEAVE); frame f ≥ 1 is a 2×2 patch at
    (left, top) = ((id+3f) mod (W−1), (id+5f) mod (H−1)) with local
    pixel u = (id·31+13f+7u) mod 4, transparent index (id+f) mod 4
    (7u mod 4 cycles all residues, so exactly one patch pixel is
    see-through every frame), and disposal 1+((id+f) mod 3) — the
    recipe exercises LEAVE, RESTORE-BACKGROUND and RESTORE-PREVIOUS.
    Closed-form recipe → the SQL oracle replays the compositing fold
    per pixel (`gif_composite_stats`). Arrow-batched pandas UDF."""
    return _synth_column(df, _gif_comp_payload, id_col, payload_col)


GIF_COMPOSITE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), True),
    T.StructField("comp_sum", T.LongType(), True),
    T.StructField("comp_wsum", T.LongType(), True),
])


def gif_composite_stats(df: DataFrame, id_col: str = "doc_id",
                        payload_col: str = "gif",
                        synth=None) -> DataFrame:
    """REAL inter-frame compositing over decoded delta frames — the
    video-coding semantic the frame-SAMPLING kernels don't reach:
    every GIF frame is LZW-decoded as a sub-rectangle patch and
    composited onto the running canvas per GIF89a (transparency
    holes show the canvas through; disposal 2 clears the patch rect
    to background; disposal 3 rewinds to the pre-render canvas), via
    `functions/gif_codec.composite_gif_frames`. One output row per
    ON-SCREEN frame with order-sensitive full-canvas stats
    (comp_sum = Σ canvas, comp_wsum = Σ (j+1)·canvasⱼ) — a decoder
    that drops a transparency hole, blits at the wrong offset, or
    confuses restore-background with restore-previous cannot pass.
    Undecodable payloads yield a single null-stats quarantine row.
    One Arrow-batched mapInPandas fan-out, no shuffle.

    Reference parity: the reference pipelines treat video as opaque
    payloads; this closes the repo's own 'inter-frame codecs remain
    stubbed' delta as far as pure-stdlib formats go."""
    from felixzh_flink_spark.functions.gif_codec import \
        composite_gif_frames

    def decode(p):
        _, _, _, _, frames = composite_gif_frames(p)
        return [(fi, sum(canvas), _wsum(canvas))
                for fi, (_delay, canvas) in enumerate(frames)]

    return _decode_rows(df, GIF_COMPOSITE_SCHEMA, decode, id_col,
                        payload_col, synth)


def _avi_payload(i: int) -> bytes:
    """The closed-form MJPEG-AVI fixture recipe (see
    `synthesize_mjpeg_avi_column`)."""
    from felixzh_flink_spark.functions.avi_codec import encode_mjpeg_avi
    from felixzh_flink_spark.functions.jpeg_codec import encode_jpeg_color

    n = i % 3 + 2
    usec = (i % 2 + 1) * 20_000
    frames = []
    for f in range(n):
        yv = (i * 31 + 17 * f) % 256
        cbv = (i * 47 + 29 * f) % 256
        crv = (i * 59 + 43 * f) % 256
        frames.append(encode_jpeg_color(
            16, 16, bytes([yv]) * 256, bytes([cbv]) * 64,
            bytes([crv]) * 64, "4:2:0"))
    return encode_mjpeg_avi(16, 16, usec, frames)


def synthesize_mjpeg_avi_column(df: DataFrame, id_col: str = "doc_id",
                                payload_col: str = "video") -> DataFrame:
    """Deterministic MJPEG-AVI fixture generator: a REAL video file per
    row — n = id%3+2 frames of 16×16 4:2:0 color JPEG (flat YCbCr tile
    per frame: Y=(id·31+17f)%256, Cb=(id·47+29f)%256,
    Cr=(id·59+43f)%256), frame duration (id%2+1)·20 ms carried in the
    avih/strh timing headers, idx1 index present. Every layer is the
    real format: RIFF chunk tree, even padding, interleaved-scan JPEG
    entropy data. Closed-form recipe → a SQL oracle predicts the
    sampled frames' decoded RGB (`avi_frame_sample_stats`).
    Arrow-batched pandas UDF."""
    return _synth_column(df, _avi_payload, id_col, payload_col)


AVI_FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_ms", T.LongType(), True),
    T.StructField("frame_idx", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("r_sum", T.LongType(), True),
    T.StructField("g_sum", T.LongType(), True),
    T.StructField("b_sum", T.LongType(), True),
])


def avi_frame_sample_stats(df: DataFrame, every_ms: int = 30,
                           id_col: str = "doc_id",
                           payload_col: str = "video",
                           synth=None) -> DataFrame:
    """REAL video frame sampling WITH pixel decode — the full path a
    training pipeline runs on video: parse the AVI container
    (`functions/avi_codec`), build the timeline from the container's
    own frame duration, pick the frame on screen at each t = k·every_ms
    inside the clip, and pixel-decode ONLY the sampled frames through
    the real color-JPEG decoder (`functions/jpeg_codec`), emitting
    per-channel sums. Sampling before decoding matters at scale: a
    1-frame-per-second sample of 30 fps video decodes 1/30th of the
    frames — the kernel touches exactly the sampled payload bytes.
    An undecodable container or ANY undecodable sampled frame yields
    one null-stats quarantine row and no sample rows for that clip.
    One Arrow-batched mapInPandas fan-out, no shuffle."""
    import numpy as np

    from felixzh_flink_spark.functions.avi_codec import parse_mjpeg_avi
    from felixzh_flink_spark.functions.jpeg_codec import decode_jpeg_color

    _require_positive(every_ms=every_ms)

    def decode(p):
        _w, _h, usec, frames = parse_mjpeg_avi(p)
        # timeline math stays in MICROSECONDS: real MJPEG runs at e.g.
        # 30 fps = 33333 us/frame, where whole-ms truncation would
        # mis-assign frames (and sub-ms durations would silently emit
        # nothing)
        total_usec = usec * len(frames)
        decoded: dict[int, tuple] = {}
        k = 0
        while k * every_ms * 1000 < total_usec:
            s = k * every_ms
            fi = (s * 1000) // usec
            if fi not in decoded:
                dw, dh, rgb = decode_jpeg_color(frames[fi])
                a = np.frombuffer(rgb, np.uint8)
                a = a.astype(np.int64).reshape(-1, 3)
                decoded[fi] = (dw, dh, int(a[:, 0].sum()),
                               int(a[:, 1].sum()), int(a[:, 2].sum()))
            yield (s, int(fi), *decoded[fi])
            k += 1

    return _decode_rows(df, AVI_FRAME_SAMPLE_SCHEMA, decode, id_col,
                        payload_col, synth)


WAV_RESAMPLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("src_rate", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("n_out", T.LongType(), True),
    T.StructField("out_sum", T.LongType(), True),
    T.StructField("out_wsum", T.LongType(), True),
])


def wav_resample_stats(df: DataFrame, target_rate: int = 16_000,
                       id_col: str = "doc_id",
                       payload_col: str = "wav",
                       synth=None) -> DataFrame:
    """REAL audio resampling on decoded PCM — the audio analog of
    `png_thumbnail_stats`: decode each WAV (`functions/wav_codec`),
    de-interleave channels, linear-resample every channel to
    `target_rate` with the exact-integer rational-ratio kernel
    (`resample_linear` — non-negative-domain floors so SQL reproduces
    it bit-for-bit), re-interleave, and emit the resampled stream's
    order-sensitive stats. A kernel that mixes channels, replicates
    instead of interpolating, or mis-maps the rational position cannot
    pass. Undecodable payloads yield null stats. One Arrow-batched
    mapInPandas projection, no shuffle."""
    from felixzh_flink_spark.functions.wav_codec import (decode_wav,
                                                         resample_linear)

    _require_positive(target_rate=target_rate)

    def decode(p):
        rate, ch, _bits, samples = decode_wav(p)
        out = resample_linear(samples, ch, rate, target_rate)
        return (rate, ch, len(out), sum(out), _wsum(out))

    return _decode_rows(df, WAV_RESAMPLE_SCHEMA, decode, id_col,
                        payload_col, synth)


def _mixed_media_payload(i: int) -> bytes:
    """The three-way mixed-media fixture dispatch (see
    `synthesize_mixed_media_column`)."""
    return [_png_payload, _gif_payload, _jpeg_color_payload][i % 3](i)


def synthesize_mixed_media_column(df: DataFrame, id_col: str = "doc_id",
                                  payload_col: str = "media") -> DataFrame:
    """Deterministic MIXED-FORMAT media fixture: one binary column
    holding a real PNG for doc_id%3==0, a real GIF for ==1, and a real
    color JPEG for ==2 — each built from the SAME closed-form recipe as
    its single-format fixture (`synthesize_png_column` /
    `synthesize_gif_column` / `synthesize_jpeg_color_column`), so the
    per-format oracles compose into one mixed-lake oracle. This is the
    shape of a real document store's media column: the format is a
    per-row fact discovered from magic bytes, not a table property."""
    return _synth_column(df, _mixed_media_payload, id_col, payload_col)


IMAGE_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("mean_rgb", T.DoubleType(), True),
    T.StructField("var_lum", T.DoubleType(), True),
])


def image_feature_stats(df: DataFrame, id_col: str = "doc_id",
                        payload_col: str = "media",
                        synth=None) -> DataFrame:
    """REAL image feature extraction over a MIXED-FORMAT media column —
    the working replacement for the PIL-stubbed `extract_features` on
    every format the engine decodes natively: sniff each payload's
    magic bytes (\\x89PNG / GIF8 / \\xff\\xd8 / BM / II*\\0 / MM\\0*),
    decode with the matching pure-stdlib codec (grayscale PNG broadcast
    to RGB, GIF palette lookup, JPEG via the gray/color dispatcher,
    BMP layout un-trapping, TIFF IFD walk in either endianness), and emit
    per-image features — mean RGB level and luminance variance (the
    flat/low-contrast screens a quality gate keys on). Float features
    are derived from exact integer sums with a FIXED formula
    (lum_sumsq − lum_sum²/n)/n so the SQL oracle reproduces the doubles
    bit-for-bit. Unknown magic or undecodable payloads yield a
    null-stats quarantine row. One Arrow-batched mapInPandas
    projection, no shuffle."""
    from felixzh_flink_spark.functions.bmp_codec import decode_bmp
    from felixzh_flink_spark.functions.gif_codec import decode_gif
    from felixzh_flink_spark.functions.jpeg_codec import decode_jpeg
    from felixzh_flink_spark.functions.png_codec import decode_png
    from felixzh_flink_spark.functions.tiff_codec import decode_tiff

    def decode(p):
        head = bytes(p[:6])
        if head.startswith(b"\x89PNG"):
            fmt = "png"
            w, h, ch, px = decode_png(p)
            if ch == 1:
                trip = [(v, v, v) for v in px]
            elif ch == 2:                # gray+alpha: drop A
                trip = [(px[2 * j],) * 3 for j in range(w * h)]
            elif ch == 3:
                trip = [(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                        for j in range(w * h)]
            else:                        # RGBA: drop alpha
                trip = [(px[4 * j], px[4 * j + 1], px[4 * j + 2])
                        for j in range(w * h)]
            ch_out = 1 if ch == 2 else min(ch, 3)
        elif head.startswith(b"GIF8"):
            fmt = "gif"
            w, h, pal, idx = decode_gif(p)
            trip = [(pal[3 * e], pal[3 * e + 1], pal[3 * e + 2])
                    for e in idx]
            ch_out = 3
        elif head.startswith(b"\xff\xd8"):
            fmt = "jpeg"
            w, h, ch, px = decode_jpeg(p)
            if ch == 1:
                trip = [(v, v, v) for v in px]
            else:
                trip = [(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                        for j in range(w * h)]
            ch_out = ch
        elif head.startswith(b"BM"):
            fmt = "bmp"
            w, h, px = decode_bmp(p)
            trip = [(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                    for j in range(w * h)]
            ch_out = 3
        elif head.startswith(b"II*\x00") or head.startswith(b"MM\x00*"):
            fmt = "tiff"
            w, h, px = decode_tiff(p)
            trip = [(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                    for j in range(w * h)]
            ch_out = 3
        else:
            raise ValueError("unknown magic bytes")
        n = w * h
        lum = [r + g + b for r, g, b in trip]
        lum_sum = sum(lum)
        lum_sumsq = sum(v * v for v in lum)
        mean_rgb = lum_sum / (3.0 * n)
        var_lum = (float(lum_sumsq) - float(lum_sum) * lum_sum / n) / n
        return (fmt, w, h, ch_out, mean_rgb, var_lum)

    return _decode_rows(df, IMAGE_FEATURE_SCHEMA, decode, id_col,
                        payload_col, synth)


WAV_SEGMENT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("seg_idx", T.IntegerType(), True),
    T.StructField("n_values", T.IntegerType(), True),
    T.StructField("seg_sum", T.LongType(), True),
    T.StructField("seg_energy", T.LongType(), True),
])


def wav_segment_stats(df: DataFrame, seg_frames: int = 8,
                      id_col: str = "doc_id",
                      payload_col: str = "wav",
                      synth=None) -> DataFrame:
    """REAL audio segmentation on decoded PCM — `audio_segment_plan`'s
    byte-range geometry joined with the actual decode kernel the plan
    was staged for: decode each WAV (`functions/wav_codec`), cut the
    interleaved stream into segments of `seg_frames` frames (a frame =
    one sample instant across all channels — segments never split a
    frame), and emit per-segment amplitude sum and energy Σv² (the
    integer core of RMS silence/clipping gates; exact, so the SQL
    oracle predicts them). The tail segment is partial, like real
    audio. Undecodable payloads yield a null-stats quarantine row. One
    Arrow-batched mapInPandas fan-out, no shuffle — segments scale the
    OUTPUT rows, not driver memory."""
    from felixzh_flink_spark.functions.wav_codec import decode_wav

    _require_positive(seg_frames=seg_frames)

    def decode(p):
        _rate, ch, _bits, samples = decode_wav(p)
        if not samples:
            # a silent/empty (but valid) file must stay visible
            # downstream — one zero-segment row
            yield (0, 0, 0, 0)
            return
        step = seg_frames * ch
        for s in range((len(samples) + step - 1) // step):
            seg = samples[s * step:(s + 1) * step]
            yield (s, len(seg), sum(seg), sum(v * v for v in seg))

    return _decode_rows(df, WAV_SEGMENT_SCHEMA, decode, id_col,
                        payload_col, synth)


AUDIO_PCM_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("pcm_sum", T.LongType(), True),
    T.StructField("pcm_wsum", T.LongType(), True),
])


def _adpcm_payload(i: int) -> bytes:
    """The closed-form IMA-ADPCM fixture recipe (see
    `synthesize_adpcm_wav_column`)."""
    from felixzh_flink_spark.functions.wav_codec import \
        encode_wav_ima_adpcm

    nib = bytes((i * 7 + 3 * k) % 16 for k in range(2 * (i % 8 + 8)))
    return encode_wav_ima_adpcm((i * 37) % 2048 - 1024, i % 89, nib)


def synthesize_adpcm_wav_column(df: DataFrame, id_col: str = "doc_id",
                                payload_col: str = "wav") -> DataFrame:
    """Deterministic IMA-ADPCM fixture: a REAL compressed-audio WAV
    (format tag 0x11) per row — initial predictor (id·37) mod 2048 −
    1024, initial step index id mod 89 (the full table range), and
    2·(id mod 8 + 8) four-bit codes with code k = (id·7+3k) mod 16,
    packed low-nibble-first behind the 4-byte block header. Closed-form
    recipe → the SQL oracle re-runs the decoder's predictor/step-index
    recurrence as a recursive CTE (`adpcm_decode_stats`).
    Arrow-batched pandas UDF."""
    return _synth_column(df, _adpcm_payload, id_col, payload_col)


def _pcm_stats(df: DataFrame, decode_samples, id_col: str,
               payload_col: str, synth) -> DataFrame:
    """The compressed-audio stats tail shared by the ADPCM and µ-law
    kernels: `decode_samples(payload)` → linear PCM samples → (count,
    sum, order-sensitive weighted sum) per doc."""
    def decode(p):
        samples = decode_samples(p)
        return (len(samples), sum(samples), _wsum(samples))

    return _decode_rows(df, AUDIO_PCM_STATS_SCHEMA, decode, id_col,
                        payload_col, synth)


def wav_adpcm_stats(df: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "wav",
                    synth=None) -> DataFrame:
    """REAL compressed-audio decode — IMA ADPCM (WAV format tag 0x11)
    expanded to linear PCM by running the public-spec predictor/
    step-index state machine over the packed 4-bit codes
    (`functions/wav_codec.decode_wav_adpcm`), the first genuinely
    COMPRESSED audio format in the media lake (PCM/resample/segment
    kernels consume uncompressed samples). Emits per doc the decoded
    sample count, sum, and order-sensitive weighted sum — a decoder
    with a wrong step-table entry, missed clamp, or swapped nibble
    order cannot pass. Undecodable payloads yield a null-stats
    quarantine row. One Arrow-batched mapInPandas projection, no
    shuffle."""
    from felixzh_flink_spark.functions.wav_codec import decode_wav_adpcm

    return _pcm_stats(df, lambda p: decode_wav_adpcm(p)[1], id_col,
                      payload_col, synth)


def _mulaw_payload(i: int) -> bytes:
    """The closed-form G.711 µ-law fixture recipe (see
    `synthesize_mulaw_wav_column`)."""
    from felixzh_flink_spark.functions.wav_codec import encode_wav_mulaw

    return encode_wav_mulaw(
        bytes((i * 11 + 5 * k) % 256 for k in range(i % 32 + 16)))


def synthesize_mulaw_wav_column(df: DataFrame, id_col: str = "doc_id",
                                payload_col: str = "wav") -> DataFrame:
    """Deterministic G.711 µ-law fixture: a REAL telephony WAV (format
    tag 7, 8-bit companded samples) per row — n = id mod 32 + 16
    bytes, byte k = (id·11+5k) mod 256. Closed-form recipe → the SQL
    oracle states the µ-law expansion directly
    (`mulaw_decode_stats`). Arrow-batched pandas UDF."""
    return _synth_column(df, _mulaw_payload, id_col, payload_col)


def wav_mulaw_stats(df: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "wav",
                    synth=None) -> DataFrame:
    """REAL G.711 µ-law decode (WAV format tag 7): expand each
    companded byte to its 16-bit linear sample with the classic CCITT
    closed form (`functions/wav_codec.decode_wav_mulaw`) and emit
    count/sum/order-sensitive weighted sum per doc. The oracle states
    the same expansion in SQL — a decoder with a wrong bias, missing
    complement, or sign slip cannot pass. Undecodable payloads yield a
    null-stats quarantine row. One Arrow-batched mapInPandas
    projection, no shuffle."""
    from felixzh_flink_spark.functions.wav_codec import decode_wav_mulaw

    return _pcm_stats(df, lambda p: decode_wav_mulaw(p)[2], id_col,
                      payload_col, synth)


WEBDATASET_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_parts", T.IntegerType(), True),
    T.StructField("txt_len", T.LongType(), True),
    T.StructField("png_pixel_sum", T.LongType(), True),
])


def _webdataset_payload_fn(image_group: int = 1):
    """Per-(id, text) builder for the WebDataset shard fixture (see
    `synthesize_webdataset_column`) — returns a closure usable as a
    fused `synth=` kernel argument."""
    import io
    import tarfile

    from felixzh_flink_spark.functions.gzip_codec import \
        encode_gzip_member

    grp = int(image_group)

    def _payload(i: int, t) -> bytes:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tf:
            for name, data in ((f"{i:08d}.txt",
                                ("" if t is None else str(t))
                                .encode("utf-8")),
                               (f"{i:08d}.png",
                                _png_payload(i // grp))):
                info = tarfile.TarInfo(name)
                info.size = len(data)
                info.mtime = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
        return encode_gzip_member(buf.getvalue())

    return _payload


def synthesize_webdataset_column(df: DataFrame, id_col: str = "doc_id",
                                 text_col: str = "text",
                                 payload_col: str = "shard",
                                 image_group: int = 1) -> DataFrame:
    """WebDataset-style shard fixture: per doc a REAL `.tar.gz` holding
    a SAMPLE — `{doc_id}.txt` (the doc's UTF-8 text) and `{doc_id}.png`
    (the shared closed-form PNG) as adjacent tar members, the layout
    the WebDataset convention uses to ship paired multimodal training
    data (sample key = member name up to the first dot). Deterministic
    ustar members (mtime 0, fixed mode/uid) gzipped with the engine's
    own RFC 1952 encoder. Arrow-batched pandas UDF.

    `image_group` > 1 makes consecutive groups of that many samples
    share ONE image (png id = doc_id div image_group) under DISTINCT
    captions — the scraped-web reality (the same image recaptioned
    across pages) that paired-modality dedup exists to clean up
    (`webdataset_pair_dedup`)."""
    return _synth_column(df, _webdataset_payload_fn(image_group), id_col,
                         payload_col, text_col)


def _webdataset_sample(p) -> dict:
    """The shard walk shared by the WebDataset kernels: gunzip
    (CRC-verified), walk the tar, group file members into samples by
    name-up-to-first-dot, and return the ONE sample's {ext: bytes}
    parts — raising on a multi-sample shard or a sample without both a
    `.txt` and a `.png` part (the caller quarantines)."""
    import io
    import tarfile

    from felixzh_flink_spark.functions.gzip_codec import \
        decode_gzip_members

    raw = b"".join(r for _m, r in decode_gzip_members(p))
    samples: dict = {}
    with tarfile.open(fileobj=io.BytesIO(raw)) as tf:
        for m in tf.getmembers():
            if not m.isfile():
                continue
            key, _, ext = m.name.partition(".")
            samples.setdefault(key, {})[ext] = tf.extractfile(m).read()
    if len(samples) != 1:
        raise ValueError("expected one sample per shard")
    parts = next(iter(samples.values()))
    if "txt" not in parts or "png" not in parts:
        raise ValueError("sample missing txt/png part")
    return parts


WEBDATASET_PAIR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("caption_len", T.LongType(), True),
    T.StructField("png", T.BinaryType(), True),
])


def webdataset_pairs(df: DataFrame, id_col: str = "doc_id",
                     payload_col: str = "shard",
                     synth=None, synth_text_col=None) -> DataFrame:
    """Extract the (caption, image) PAIR from each WebDataset shard —
    the ingestion step of paired-modality dedup: gunzip (CRC-verified),
    walk the tar, group members into the sample by name-up-to-first-dot,
    decode the `.txt` part to UTF-8 (emitting its CHARACTER length, the
    keep-best quality signal) and pass the `.png` part through as raw
    bytes for the downstream perceptual-hash kernel — this kernel never
    decodes pixels, so the shard walk and the image hash stay separate
    Arrow stages with only (id, len, png bytes) crossing between them.
    Malformed shards (bad gzip, missing part, multi-sample) quarantine
    as null rows. One mapInPandas projection, no shuffle; at scale the
    parallel unit is the shard file."""
    def decode(p):
        parts = _webdataset_sample(p)
        return (len(parts["txt"].decode("utf-8")), parts["png"])

    return _decode_rows(df, WEBDATASET_PAIR_SCHEMA, decode, id_col,
                        payload_col, synth, synth_text_col)


def webdataset_sample_stats(df: DataFrame, id_col: str = "doc_id",
                            payload_col: str = "shard",
                            synth=None, synth_text_col=None) -> DataFrame:
    """WebDataset shard ingestion — the container convention large
    multimodal training runs consume: gunzip the shard with the
    engine's gzip member walk (CRC32/ISIZE verified), iterate the tar
    members, group them into SAMPLES by the name-up-to-first-dot key,
    and decode each part by its extension (.txt → UTF-8 text, .png →
    the real PNG codec). Emits per sample the part count, text byte
    length, and decoded pixel sum — a reader that loses a member,
    groups across samples, or skips the image decode cannot pass.
    Undecodable shards yield a null-stats quarantine row. One
    Arrow-batched mapInPandas projection, no shuffle; at scale the
    parallel unit is the SHARD FILE (same partition-per-file split as
    the `felixzh_warc` source)."""
    from felixzh_flink_spark.functions.png_codec import decode_png

    def decode(p):
        parts = _webdataset_sample(p)
        txt = parts["txt"]
        txt.decode("utf-8")
        _w, _h, _ch, px = decode_png(parts["png"])
        return (len(parts), len(txt), sum(px))

    return _decode_rows(df, WEBDATASET_SCHEMA, decode, id_col, payload_col,
                        synth, synth_text_col)


def _media_census_payload(i: int) -> bytes:
    """The six-way census fixture dispatch incl. the junk/quarantine
    class (see `synthesize_media_census_column`)."""
    m = i % 6
    if m == 0:
        return _png_payload(i)
    if m == 1:
        return _gif_payload(i)
    if m == 2:
        return _jpeg_color_payload(i)
    if m == 3:
        return _bmp_payload(i)
    if m == 4:
        return _tiff_payload(i)
    return b"JUNK" + str(i).encode()


def synthesize_media_census_column(df: DataFrame, id_col: str = "doc_id",
                                   payload_col: str = "media"
                                   ) -> DataFrame:
    """SIX-way mixed media fixture: doc_id mod 6 selects a real PNG /
    GIF / color-JPEG / BMP / TIFF (each from its shared closed-form
    builder) or deliberate junk bytes (`JUNK<id>`) — the full dispatch
    surface plus the quarantine path in one column. Arrow-batched
    pandas UDF."""
    return _synth_column(df, _media_census_payload, id_col, payload_col)


def media_format_census(df: DataFrame, id_col: str = "doc_id",
                        payload_col: str = "media",
                        synth=None) -> DataFrame:
    """Media-lake CENSUS: sniff + decode every payload through the
    mixed-format feature kernel (`image_feature_stats` — all five
    native codecs) and aggregate per detected format: document count
    and total decoded pixels, with undecodable payloads surfacing as
    an explicit 'quarantine' bucket instead of vanishing (the
    monitoring number a real lake watches). Shape: one Arrow-batched
    decode projection, then ONE keyed agg over a six-row domain —
    partial aggregation makes the shuffle negligible at any scale."""
    feats = image_feature_stats(df, id_col=id_col,
                                payload_col=payload_col, synth=synth)
    return (feats
            .groupBy(F.coalesce(F.col("fmt"),
                                F.lit("quarantine")).alias("fmt"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.coalesce(F.col("width") * F.col("height"),
                                  F.lit(0))).alias("px_total")))


GZIP_ROUNDTRIP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_members", T.IntegerType(), True),
    T.StructField("text", T.StringType(), True),
])


def _gzip_payload(i: int, t) -> bytes:
    """The closed-form gzip fixture recipe over a doc's text (see
    `synthesize_gzip_column`)."""
    from felixzh_flink_spark.functions.gzip_codec import (
        encode_gzip_member, encode_gzip_members)

    raw = ("" if t is None else str(t)).encode("utf-8")
    if i % 2 == 0 and len(raw) >= 2:
        cut = len(raw) // 2
        return encode_gzip_members([raw[:cut], raw[cut:]])
    return encode_gzip_member(raw, name=f"doc-{i}", hcrc=True)


def synthesize_gzip_column(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           payload_col: str = "gz") -> DataFrame:
    """Deterministic gzip fixture over REAL corpus text: each doc's
    UTF-8 bytes become a gzip stream — even ids with ≥ 2 bytes are
    split into TWO concatenated members (the `.warc.gz` shape, cut at
    the byte midpoint, which may fall inside a UTF-8 sequence — member
    boundaries are byte-level, so a reader that decodes members
    independently instead of joining bytes first breaks); odd ids get
    one member carrying an FNAME field and a header CRC16 the walker
    must verify and skip. Arrow-batched pandas UDF."""
    return _synth_column(df, _gzip_payload, id_col, payload_col, text_col)


def gzip_roundtrip_stats(df: DataFrame, id_col: str = "doc_id",
                         payload_col: str = "gz",
                         synth=None, synth_text_col=None) -> DataFrame:
    """REAL gzip member walk (`functions/gzip_codec`): iterate every
    RFC 1952 member (FEXTRA/FNAME/FHCRC header fields, CRC32 + ISIZE
    trailer verification), join the decompressed byte streams, and
    decode UTF-8 — emitting the member count and the recovered text,
    which the oracle compares VERBATIM against the source column. A
    walker that stops after the first member, mis-skips a header
    field, or splits UTF-8 at the member boundary cannot pass.
    Undecodable payloads yield a null-stats quarantine row. One
    Arrow-batched mapInPandas projection, no shuffle."""
    from felixzh_flink_spark.functions.gzip_codec import \
        decode_gzip_members

    def decode(p):
        members = decode_gzip_members(p)
        raw = b"".join(r for _m, r in members)
        return (len(members), raw.decode("utf-8"))

    return _decode_rows(df, GZIP_ROUNDTRIP_SCHEMA, decode, id_col,
                        payload_col, synth, synth_text_col)


COMPRESSED_TEXT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("codec", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
])


def _compressed_text_payload(i: int, t) -> bytes:
    """The three-codec compressed-text fixture recipe (see
    `synthesize_compressed_text_column`)."""
    import bz2
    import lzma

    from felixzh_flink_spark.functions.gzip_codec import \
        encode_gzip_member

    raw = ("" if t is None else str(t)).encode("utf-8")
    m = i % 3
    if m == 0:
        return encode_gzip_member(raw)
    if m == 1:
        return bz2.compress(raw)
    return lzma.compress(raw, format=lzma.FORMAT_XZ,
                         check=lzma.CHECK_CRC64)


def synthesize_compressed_text_column(df: DataFrame,
                                      id_col: str = "doc_id",
                                      text_col: str = "text",
                                      payload_col: str = "blob"
                                      ) -> DataFrame:
    """Mixed-compression fixture: each doc's UTF-8 text compressed with
    gzip (engine RFC 1952 encoder), bz2, or xz by doc_id mod 3 — the
    heterogeneous-codec lake a long-lived ingestion pipeline actually
    accumulates (WET dumps gzipped, archives bzip2'd, cold storage
    xz'd). Arrow-batched pandas UDF."""
    return _synth_column(df, _compressed_text_payload, id_col, payload_col,
                         text_col)


def compressed_text_stats(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "blob",
                          synth=None, synth_text_col=None) -> DataFrame:
    """Per-row compression-codec dispatch: sniff the magic bytes
    (\\x1f\\x8b gzip / BZh bz2 / \\xfd7zXZ xz), decompress with the
    matching codec (gzip through the engine's verifying member walk,
    bz2/lzma via their stdlib streams), and emit the detected codec
    name plus the recovered text VERBATIM — the oracle compares
    against the source column, so a mis-sniffed magic or a truncated
    inflate cannot pass. Unknown magic or corrupt streams yield a
    null-stats quarantine row. One Arrow-batched mapInPandas
    projection, no shuffle."""
    import bz2
    import lzma

    from felixzh_flink_spark.functions.gzip_codec import \
        decode_gzip_members

    def decode(p):
        head = bytes(p[:6])
        if head.startswith(b"\x1f\x8b"):
            codec = "gzip"
            raw = b"".join(r for _m, r in decode_gzip_members(p))
        elif head.startswith(b"BZh"):
            codec = "bz2"
            raw = bz2.decompress(bytes(p))
        elif head.startswith(b"\xfd7zXZ"):
            codec = "xz"
            raw = lzma.decompress(bytes(p))
        else:
            raise ValueError("unknown compression magic")
        return (codec, raw.decode("utf-8"))

    return _decode_rows(df, COMPRESSED_TEXT_SCHEMA, decode, id_col,
                        payload_col, synth, synth_text_col)


WARC_RECORD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_records", T.IntegerType(), True),
    T.StructField("target_uri", T.StringType(), True),
    T.StructField("response_len", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
])


def _warc_payload(i: int, t, u=None) -> bytes:
    """The two-record `.warc.gz` fixture recipe (see
    `synthesize_warc_column`); `u=None` takes the default per-id URI."""
    from felixzh_flink_spark.functions.warc_codec import encode_warc

    block = ("" if t is None else str(t)).encode("utf-8")
    uri = f"http://example.com/doc/{i}" if u is None else str(u)
    return encode_warc([
        ({"WARC-Type": "warcinfo",
          "WARC-Record-ID": f"urn:warcinfo:{i}"},
         b"software: felixzh-flink-spark\r\n"),
        ({"WARC-Type": "response",
          "WARC-Record-ID": f"urn:doc:{i}",
          "WARC-Target-URI": uri},
         block),
    ], gzip_per_record=True)


def synthesize_warc_column(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           payload_col: str = "warc",
                           uri_col: str | None = None) -> DataFrame:
    """Deterministic `.warc.gz` fixture over REAL corpus text: per doc
    a two-record WARC — a `warcinfo` record and a `response` record
    whose block is the doc's UTF-8 text and whose WARC-Target-URI is
    `http://example.com/doc/<id>` (or the value of `uri_col` when
    given — the crawl-to-corpus pipeline carries per-doc crawl URLs
    through the container) — each record its OWN gzip member (the
    canonical crawl layout readers split on). Arrow-batched pandas
    UDF."""
    uri = uri_col if uri_col is not None else F.lit(None).cast("string")
    return _synth_column(df, _warc_payload, id_col, payload_col, text_col,
                         uri)


def warc_record_stats(df: DataFrame, id_col: str = "doc_id",
                      payload_col: str = "warc",
                      synth=None, synth_text_col=None) -> DataFrame:
    """REAL WARC parse (`functions/warc_codec`): walk the gzip members
    of a `.warc.gz`, parse each record's version line + header fields,
    read the block strictly by Content-Length, and emit per doc the
    record count, the response record's WARC-Target-URI, its block
    byte length, and the recovered text — compared VERBATIM against
    the source column by the oracle. A parser that trusts record order
    without checking WARC-Type, reads past Content-Length, or drops
    the terminator check cannot pass. Undecodable payloads yield a
    null-stats quarantine row. One Arrow-batched mapInPandas
    projection, no shuffle."""
    from felixzh_flink_spark.functions.warc_codec import decode_warc

    def decode(p):
        records = decode_warc(p)
        responses = [(h, b) for h, b in records
                     if h.get("WARC-Type") == "response"]
        if len(responses) != 1:
            raise ValueError("expected one response record")
        h, b = responses[0]
        return (len(records), h.get("WARC-Target-URI"), len(b),
                b.decode("utf-8"))

    return _decode_rows(df, WARC_RECORD_SCHEMA, decode, id_col,
                        payload_col, synth, synth_text_col)


def _bmp_payload(i: int) -> bytes:
    """Closed-form BMP fixture recipe: width = i%5+1, height = i%4+1,
    top-down RGB byte k = (i·31 + 7k) mod 256 — shared builder, same
    discipline as `_png_payload`."""
    from felixzh_flink_spark.functions.bmp_codec import encode_bmp

    w, h = i % 5 + 1, i % 4 + 1
    rgb = bytes((i * 31 + 7 * k) % 256 for k in range(3 * w * h))
    return encode_bmp(w, h, rgb)


def synthesize_bmp_column(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "bmp") -> DataFrame:
    """Deterministic BMP fixture generator (`_bmp_payload` per row):
    real 24-bit bottom-up BGR files with 4-byte row padding, built from
    a closed-form recipe so a SQL oracle predicts the DECODED bytes
    (`bmp_pixel_stats`). Arrow-batched pandas UDF."""
    return _synth_column(df, _bmp_payload, id_col, payload_col)


BMP_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("r_sum", T.LongType(), True),
    T.StructField("g_sum", T.LongType(), True),
    T.StructField("b_sum", T.LongType(), True),
    T.StructField("pixel_wsum", T.LongType(), True),
])


def _rgb_stats(df: DataFrame, decode_rgb, id_col: str, payload_col: str,
               synth) -> DataFrame:
    """The RGB stats tail shared by the BMP and TIFF kernels:
    `decode_rgb(payload)` → (w, h, top-down row-major RGB bytes) →
    geometry, per-channel sums and Σ (k+1)·byteₖ."""
    def decode(p):
        w, h, rgb = decode_rgb(p)
        return (w, h, sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3]),
                _wsum(rgb))

    return _decode_rows(df, BMP_STATS_SCHEMA, decode, id_col, payload_col,
                        synth)


def bmp_pixel_stats(df: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "bmp",
                    synth=None) -> DataFrame:
    """REAL BMP decode (no stub): un-flip the bottom-up rows, swap
    BGR→RGB and drop row padding (`functions/bmp_codec`), emitting
    per-channel sums plus the byte-order-sensitive
    pixel_wsum = Σ (k+1)·byteₖ over the top-down RGB stream — a decoder
    that skips the flip, keeps BGR, or leaks padding bytes cannot pass.
    Undecodable payloads yield null stats. One Arrow-batched
    mapInPandas projection, no shuffle."""
    from felixzh_flink_spark.functions.bmp_codec import decode_bmp

    return _rgb_stats(df, decode_bmp, id_col, payload_col, synth)


def _tiff_payload(i: int) -> bytes:
    """Closed-form TIFF fixture recipe: width = i%5+1, height = i%4+2,
    BIG-endian for odd ids (the 'MM' byte-order trap), PackBits
    compression for ids divisible by 3 (those use RGB byte k =
    (i·31 + 7·(k//5)) mod 256 — runs of five, so the RLE genuinely
    compresses), plain strips otherwise (byte k = (i·31+7k) mod 256),
    RowsPerStrip=2 so taller images get multiple strips — shared
    builder, same discipline as `_bmp_payload`."""
    from felixzh_flink_spark.functions.tiff_codec import encode_tiff

    w, h = i % 5 + 1, i % 4 + 2
    if i % 3 == 0:
        rgb = bytes((i * 31 + 7 * (k // 5)) % 256
                    for k in range(3 * w * h))
        return encode_tiff(w, h, rgb, big_endian=(i % 2 == 1),
                           compression=32773, rows_per_strip=2)
    rgb = bytes((i * 31 + 7 * k) % 256 for k in range(3 * w * h))
    return encode_tiff(w, h, rgb, big_endian=(i % 2 == 1),
                       compression=1, rows_per_strip=2)


def synthesize_tiff_column(df: DataFrame, id_col: str = "doc_id",
                           payload_col: str = "tiff") -> DataFrame:
    """Deterministic TIFF fixture generator (`_tiff_payload` per row):
    REAL baseline-RGB TIFFs mixing both byte orders, PackBits and
    uncompressed strips, and multi-strip layouts. Arrow-batched
    pandas UDF."""
    return _synth_column(df, _tiff_payload, id_col, payload_col)


def tiff_pixel_stats(df: DataFrame, id_col: str = "doc_id",
                     payload_col: str = "tiff",
                     synth=None) -> DataFrame:
    """REAL TIFF decode (no stub): walk the Image File Directory in
    EITHER byte order, resolve inline-vs-offset tag values, reassemble
    RowsPerStrip-sized strips in order, and genuinely decompress
    PackBits strips (`functions/tiff_codec`). Emits per-channel sums
    plus the byte-order-sensitive pixel_wsum = Σ (k+1)·byteₖ over the
    row-major RGB stream — a reader that assumes one endianness,
    mis-reads an inline SHORT, or swaps strip order cannot pass.
    Undecodable payloads yield null stats. One Arrow-batched
    mapInPandas projection, no shuffle."""
    from felixzh_flink_spark.functions.tiff_codec import decode_tiff

    return _rgb_stats(df, decode_tiff, id_col, payload_col, synth)
