"""Pure-Python WAV (RIFF PCM) codec — the real audio kernel behind the
multimodal decode stub, companion to `png_codec`.

WAV PCM is uncompressed (public RIFF/WAVE spec), so "decode" is chunk
walking + sample unpacking — no codec library needed. Supports the
canonical integer PCM envelope a fixture/ingest path produces: 8-bit
unsigned and 16/24/32-bit signed little-endian, any channel count,
arbitrary extra chunks (LIST/fact/...) before or after `data`. Anything
else (float PCM, extensible format, A-law...) raises loudly. The PCM,
IMA-ADPCM and µ-law codecs share one RIFF chunk walk (`_wave_chunks`)
and one RIFF writer (`_riff_wave`).

Cost model: O(bytes) per file in Python, inside the Arrow-batched
`mapInPandas` stage (`multimodal.wav_pcm_stats`) — the documented slow
path for sample-level work; real deployments swap a native reader in
via `multimodal.require_codec` without touching the Spark plan.
"""

from __future__ import annotations

import struct


def _riff_wave(fmt: bytes, data: bytes) -> bytes:
    """The one RIFF writer: WAVE form with a `fmt ` chunk and a `data`
    chunk, in that order."""
    chunks = (b"WAVE"
              + b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def _wave_chunks(payload: bytes, fmt_layout: str) -> tuple[tuple, bytes]:
    """The one RIFF chunk walk: word-aligned chunks, unknown ones
    (LIST/fact/cue...) skipped, every length checked before slicing.
    Returns (the `fmt ` chunk unpacked by `fmt_layout`, the `data`
    chunk body)."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)    # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    n = struct.calcsize(fmt_layout)
    if len(fmt) < n:
        raise ValueError("short fmt chunk")
    return struct.unpack(fmt_layout, fmt[:n]), data


def encode_wav(samples: list[int], sample_rate: int = 16_000,
               channels: int = 1, bits: int = 16) -> bytes:
    """Canonical RIFF/WAVE: fmt chunk (PCM) + data chunk. `samples` are
    interleaved frames; length must divide evenly by `channels`."""
    if bits not in (8, 16, 24, 32):
        raise ValueError(f"unsupported bit depth {bits}")
    if channels < 1 or len(samples) % channels:
        raise ValueError("sample count must be a multiple of channels")
    width = bits // 8
    lo, hi = ((0, 255) if bits == 8
              else (-(1 << (bits - 1)), (1 << (bits - 1)) - 1))
    body = bytearray()
    for s in samples:
        if not lo <= s <= hi:
            raise ValueError(f"sample {s} out of {bits}-bit range")
        body += (s.to_bytes(1, "little") if bits == 8
                 else s.to_bytes(width, "little", signed=True))
    byte_rate = sample_rate * channels * width
    return _riff_wave(struct.pack("<HHIIHH", 1, channels, sample_rate,
                                  byte_rate, channels * width, bits), body)


def decode_wav(payload: bytes) -> tuple[int, int, int, list[int]]:
    """(sample_rate, channels, bits, interleaved samples) from a RIFF
    PCM WAV. Walks the chunk stream (word-aligned, unknown chunks
    skipped), so files with LIST/fact/cue chunks decode fine. Raises
    ValueError on non-WAV, non-integer-PCM, truncated input, or a
    sample count that is not a whole number of `channels`-wide frames
    (including channels = 0)."""
    (audio_fmt, channels, rate, _br, _ba, bits), data = _wave_chunks(
        payload, "<HHIIHH")
    if audio_fmt != 1:
        raise ValueError(f"unsupported audio format {audio_fmt} (PCM only)")
    if bits not in (8, 16, 24, 32):
        raise ValueError(f"unsupported bit depth {bits}")
    width = bits // 8
    if len(data) % width:
        raise ValueError("data chunk not sample-aligned")
    if channels < 1 or len(data) // width % channels:
        raise ValueError("data chunk not frame-aligned")
    if bits == 8:
        samples = list(data)
    else:
        samples = [int.from_bytes(data[i:i + width], "little", signed=True)
                   for i in range(0, len(data), width)]
    return rate, channels, bits, samples


def resample_linear(samples: "list[int]", channels: int,
                    src_rate: int, dst_rate: int) -> "list[int]":
    """Linear-interpolation resampling of interleaved integer PCM at a
    rational rate ratio, in EXACT integer arithmetic: output instant t
    of a channel maps to source position t·src/dst, i.e. index
    i = (t·src)//dst with fractional numerator num = (t·src) mod dst,
    and y[t] = floor((s[i]·(dst−num) + s[i+1]·num) / dst) (last sample
    replicated at the tail). The floor is computed in a NON-NEGATIVE
    domain (samples shifted by +2^15 first): Python's // floors while
    DuckDB's // truncates toward zero, so keeping every division
    non-negative is what lets a SQL oracle reproduce the resampled
    stream bit-for-bit. Output length per channel is
    (n_per_channel·dst)//src (duration-preserving floor)."""
    if channels < 1 or len(samples) % channels:
        raise ValueError("sample count must be a multiple of channels")
    if src_rate <= 0 or dst_rate <= 0:
        raise ValueError("rates must be positive")
    n_per = len(samples) // channels
    if n_per == 0:
        return []
    n_out = (n_per * dst_rate) // src_rate
    out = [0] * (n_out * channels)
    for c in range(channels):
        u = [samples[j * channels + c] + 32768 for j in range(n_per)]
        for t in range(n_out):
            pos = t * src_rate
            i = pos // dst_rate
            num = pos % dst_rate
            i1 = min(i + 1, n_per - 1)
            y = (u[i] * (dst_rate - num) + u[i1] * num) // dst_rate
            out[t * channels + c] = y - 32768
    return out


# --------------------------------------------- compressed-audio codecs

#: IMA/DVI ADPCM step-size table (public spec, IMA ADPCM reference;
#: also RFC 3551 §4.5.1 DVI4) — 89 entries.
IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]

#: Index adjustment per nibble magnitude (low 3 bits).
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]

_WAVE_FORMAT_PCM = 0x0001
_WAVE_FORMAT_MULAW = 0x0007
_WAVE_FORMAT_IMA_ADPCM = 0x0011


def ima_adpcm_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM decoder step: (predictor, step-index) × 4-bit code
    → next (predictor, step-index). Pure integer arithmetic with every
    division non-negative (step >> k on a non-negative step), so a SQL
    oracle's truncating integer division reproduces it bit-for-bit."""
    step = IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + IMA_INDEX_TABLE[nibble & 7]))
    return pred, index


def encode_wav_ima_adpcm(predictor: int, step_index: int, nibbles: bytes,
                         sample_rate: int = 8_000) -> bytes:
    """Build a REAL IMA-ADPCM WAV (format tag 0x11, mono): canonical
    extended fmt chunk (cbSize=2 carrying samplesPerBlock) and a single
    data block — the 4-byte block header (initial predictor int16, step
    index byte, reserved 0) followed by the 4-bit codes packed LOW
    nibble first. `nibbles` holds one code per byte (values 0-15) and
    must have even length (byte packing). The header predictor IS the
    first decoded sample; each code yields one more."""
    if not -32768 <= predictor <= 32767:
        raise ValueError("predictor out of int16 range")
    if not 0 <= step_index <= 88:
        raise ValueError("step index out of [0, 88]")
    if len(nibbles) % 2:
        raise ValueError("nibble count must be even (byte packing)")
    if nibbles and max(nibbles) > 15:
        raise ValueError("nibble out of 4-bit range")
    block_align = 4 + len(nibbles) // 2
    samples_per_block = len(nibbles) + 1
    byte_rate = (sample_rate * block_align + samples_per_block - 1) \
        // samples_per_block
    body = bytearray(struct.pack("<hBB", predictor, step_index, 0))
    for i in range(0, len(nibbles), 2):
        body.append(nibbles[i] | (nibbles[i + 1] << 4))
    return _riff_wave(struct.pack("<HHIIHHHH", _WAVE_FORMAT_IMA_ADPCM, 1,
                                  sample_rate, byte_rate, block_align, 4, 2,
                                  samples_per_block), body)


def decode_wav_adpcm(payload: bytes) -> tuple[int, list[int]]:
    """REAL compressed-audio decode — (sample_rate, PCM samples) from a
    mono IMA-ADPCM WAV (format tag 0x11): walk the RIFF chunks, read
    samplesPerBlock from the extended fmt chunk, then per block decode
    the 4-byte header (the initial predictor is emitted as the first
    sample) and run the IMA predictor/step-index state machine over the
    packed 4-bit codes, low nibble first. Stereo, truncated blocks, and
    wrong bit depth raise ValueError (quarantine contract)."""
    (audio_fmt, channels, rate, _br, block_align, bits, cb, spb), data = \
        _wave_chunks(payload, "<HHIIHHHH")
    if audio_fmt != _WAVE_FORMAT_IMA_ADPCM:
        raise ValueError(f"not IMA ADPCM (format {audio_fmt})")
    if channels != 1:
        raise ValueError("only mono IMA ADPCM supported")
    if bits != 4 or cb < 2:
        raise ValueError("IMA ADPCM requires 4-bit codes + cbSize>=2")
    if block_align < 4 or spb != (block_align - 4) * 2 + 1:
        raise ValueError("samplesPerBlock inconsistent with blockAlign")
    if not data or len(data) % block_align:
        raise ValueError("data chunk not block-aligned")
    out: list[int] = []
    for b0 in range(0, len(data), block_align):
        block = data[b0:b0 + block_align]
        pred, index, _rsv = struct.unpack("<hBB", block[:4])
        if index > 88:
            raise ValueError("block step index out of [0, 88]")
        out.append(pred)
        for byte in block[4:]:
            for nibble in (byte & 0x0F, byte >> 4):
                pred, index = ima_adpcm_step(pred, index, nibble)
                out.append(pred)
    return rate, out


def mulaw_to_linear(b: int) -> int:
    """G.711 µ-law byte → 16-bit linear sample (classic CCITT
    expansion): complement, split into sign/exponent/mantissa, then
    ((8·mantissa + 0x84) << exponent) − 0x84 with the sign applied —
    a pure closed form a SQL oracle states directly."""
    u = ~b & 0xFF
    exp = (u >> 4) & 0x07
    man = u & 0x0F
    mag = ((8 * man + 0x84) << exp) - 0x84
    return -mag if u & 0x80 else mag


def encode_wav_mulaw(ulaw_bytes: bytes, sample_rate: int = 8_000,
                     channels: int = 1) -> bytes:
    """Build a REAL G.711 µ-law WAV (format tag 7, 8 bits/sample,
    cbSize=0 extension as produced by common telephony tooling)."""
    if channels < 1 or len(ulaw_bytes) % channels:
        raise ValueError("sample count must be a multiple of channels")
    byte_rate = sample_rate * channels
    return _riff_wave(struct.pack("<HHIIHHH", _WAVE_FORMAT_MULAW, channels,
                                  sample_rate, byte_rate, channels, 8, 0),
                      ulaw_bytes)


def decode_wav_mulaw(payload: bytes) -> tuple[int, int, list[int]]:
    """(sample_rate, channels, linear PCM samples) from a G.711 µ-law
    WAV (format tag 7): chunk walk, then the closed-form per-byte
    expansion `mulaw_to_linear`. Non-µ-law or non-8-bit raises."""
    (audio_fmt, channels, rate, _br, _ba, bits), data = _wave_chunks(
        payload, "<HHIIHH")
    if audio_fmt != _WAVE_FORMAT_MULAW:
        raise ValueError(f"not mu-law (format {audio_fmt})")
    if bits != 8:
        raise ValueError("mu-law requires 8 bits per sample")
    if channels < 1 or len(data) % channels:
        raise ValueError("data chunk not frame-aligned")
    return rate, channels, [mulaw_to_linear(b) for b in data]
