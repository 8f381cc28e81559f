"""Baseline-JPEG codec, grayscale and YCbCr color — real Huffman
entropy coding, real DCT, no image library (numpy for the 8×8
transforms).

Closes the last honest image-decode stub (VERDICT-r5 "What's missing"
item 4): PNG, GIF and WAV decode were already real; JPEG pixels were a
header-only parse. This module implements the genuine baseline
(SOF0) path end-to-end. Both encoders go through one scan writer
(`_encode_scan`: forward DCT, quantization, DC diffs + AC run/size
pairs with 0xFF byte stuffing, restart chunks) and one file writer
(`_encode_jpeg`: SOI/DQT/SOF0/DRI/DHT/SOS with standard Annex-K
Huffman tables). Every decoder goes through one segment walk
(`_parse_jpeg`: tables from the FILE, not assumed; every segment body
length-checked before it is read) and one MCU loop (`_decode_scan`:
Huffman decode, dequantize, inverse DCT, restart intervals, crop).

Verifiability despite lossiness: an 8×8-flat tile has only a DC
coefficient (8·(v−128) under the orthonormal DCT), and with the DC
quantizer = 8 that coefficient quantizes EXACTLY — flat-tile images
round-trip bit-losslessly through the full real pipeline. The oracle
fixture (`multimodal.synthesize_jpeg_column`) is built from flat tiles
with a closed-form per-tile recipe, so DuckDB predicts the DECODED
pixel statistics arithmetically while encoder and decoder still
exercise real Huffman/DCT/quantization machinery. Non-flat content is
covered by round-trip-within-tolerance unit tests.

Supported envelope: 8-bit baseline sequential — single-component
grayscale at 1×1 sampling (`encode_jpeg_gray`/`decode_jpeg_gray`) and
three-component YCbCr at 4:4:4 or 4:2:0 with interleaved MCUs
(`encode_jpeg_color`/`decode_jpeg_color`, round-6 extension closing the
"color JPEG" stub). Anything else (progressive, arithmetic coding,
other samplings, short or truncated segments) raises ValueError —
wrong-but-plausible pixels are worse than a loud error in a data
pipeline.

Color-path verifiability: the flat-tile argument extends per channel —
a 16×16-flat YCbCr tile is flat in every 8×8 luma block AND in the
2×2-box-subsampled chroma block, so with the all-8s quantizers the
decoded Y/Cb/Cr planes are bit-exact. The YCbCr→RGB conversion uses
round-half-up via floor(x + 0.5) in IEEE-754 double with a fixed
evaluation order, so a SQL oracle (DuckDB double math) reproduces the
decoded RGB bytes exactly (`queries.jpeg_color_decode_stats`).
"""

from __future__ import annotations

import struct

import numpy as np

#: zig-zag scan order: index = zigzag position, value = block offset
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: standard luminance Huffman tables (JPEG Annex K.3): (BITS, HUFFVAL)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

#: default quantization: all 8s — flat-tile DC coefficients (8·(v−128))
#: quantize exactly, which is what makes the oracle fixture lossless
FLAT_LOSSLESS_QTABLE = [8] * 64


def _dct_matrix() -> np.ndarray:
    c = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            c[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_C = _dct_matrix()


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict:
    """symbol → (code, length), canonical JPEG code assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


#: standard luminance encode maps, built once at import (they were
#: rebuilt for every encoded image — 4 table builds per JPEG)
_DC_ENC = _huff_encode_table(DC_BITS, DC_VALS)
_AC_ENC = _huff_encode_table(AC_BITS, AC_VALS)


_DEC_TABLE_CACHE: dict[tuple, dict] = {}


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) → symbol. Memoized on the (bits, vals) spec:
    tables still come from each FILE's DHT segments — identical specs
    (in practice the standard Annex-K tables) just skip the rebuild."""
    key = (tuple(bits), tuple(vals))
    cached = _DEC_TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    _DEC_TABLE_CACHE[key] = out
    return out


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + additional bits for a coefficient."""
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


class _BitWriter:
    """MSB-first bit stream with 0xFF byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        # whole-code shift instead of a per-bit loop (hot path: one call
        # per Huffman symbol); byte-identical output incl. 0xFF stuffing
        acc = (self.acc << length) | (code & ((1 << length) - 1))
        n = self.n + length
        out = self.out
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def finish(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # 1-fill
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


class _BitReader:
    """MSB-first reader over entropy-coded data; un-stuffs 0xFF00 and
    stops at (reports) markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("entropy stream truncated")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) \
                else None
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("marker inside entropy stream")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.acc = 0
        self.n = 0

    def at_marker(self) -> int | None:
        """The marker byte if the next input bytes are a marker."""
        if self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF \
                and self.data[self.pos + 1] != 0x00:
            return self.data[self.pos + 1]
        return None


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _encode_jpeg(width: int, height: int, planes: list, qtables: list,
                 restart_interval: int) -> bytes:
    """The one file writer behind both encoders. `planes` is
    [(2-D uint8 plane, blocks per MCU side)], luma first; `qtables`
    holds one quantizer per table id (None → `FLAT_LOSSLESS_QTABLE`).
    Component i uses table id min(i, 1): quantizer and Annex-K luma (0)
    or chroma (1) Huffman tables. Writes SOI, DQT, SOF0, DRI (when
    restarting), DHT, SOS, the scan's restart chunks joined by RSTn
    markers, and EOI."""
    qs = []
    for q in qtables:
        q = list(q) if q is not None else list(FLAT_LOSSLESS_QTABLE)
        if len(q) != 64 or any(not 1 <= v <= 255 for v in q):
            raise ValueError("qtable must be 64 entries in 1..255")
        qs.append(q)
    fmax = planes[0][1]
    mcux = (width + 8 * fmax - 1) // (8 * fmax)
    mcuy = (height + 8 * fmax - 1) // (8 * fmax)
    # (padded plane, blocks-per-MCU-side, qmatrix, dc table, ac table)
    comps = [(_pad_to_blocks(plane, mcuy * f, mcux * f), f,
              _zz_to_matrix(qs[min(i, 1)]), *_HUFF_ENC[min(i, 1)])
             for i, (plane, f) in enumerate(planes)]
    chunks = _encode_scan(comps, mcux, mcuy, restart_interval)

    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    sos = bytes([len(planes)])
    for i, (_, f) in enumerate(planes):
        t = min(i, 1)
        sof += bytes([i + 1, (f << 4) | f, t])           # id, sampling, q
        sos += bytes([i + 1, (t << 4) | t])              # id, dc/ac tables
    out = bytearray(b"\xff\xd8")                         # SOI
    out += _seg(0xDB, b"".join(bytes([t]) + bytes(q)
                               for t, q in enumerate(qs)))   # DQT, 8-bit
    out += _seg(0xC0, sof)                               # SOF0
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    for t in range(len(qs)):
        dc_bits, dc_vals, ac_bits, ac_vals = _HUFF_SPECS[t]
        out += _seg(0xC4, bytes([t]) + bytes(dc_bits) + bytes(dc_vals))
        out += _seg(0xC4, bytes([0x10 | t]) + bytes(ac_bits) + bytes(ac_vals))
    out += _seg(0xDA, sos + bytes([0, 63, 0]))           # SOS
    for i, chunk in enumerate(chunks):
        out += chunk
        if i < len(chunks) - 1:
            out += bytes([0xFF, 0xD0 + (i % 8)])         # RSTn
    out += b"\xff\xd9"                                   # EOI
    return bytes(out)


def _encode_scan(comps: list, mcux: int, mcuy: int,
                 restart_interval: int) -> list[bytes]:
    """The one MCU loop: entropy-code each component's blocks MCU by
    MCU (components in frame order, blocks row-major inside the MCU);
    every `restart_interval` MCUs the bit stream is cut into a new
    chunk and every DC predictor resets."""
    encode_block = _encode_block
    w = _BitWriter()
    chunks: list[bytes] = []
    preds = [0] * len(comps)
    n_in_chunk = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_in_chunk == restart_interval:
                chunks.append(w.finish())
                w = _BitWriter()
                preds = [0] * len(comps)
                n_in_chunk = 0
            for ci, (plane, f, qm, dct, act) in enumerate(comps):
                for by in range(f):
                    for bx in range(f):
                        r0 = (my * f + by) * 8
                        c0 = (mx * f + bx) * 8
                        block = plane[r0:r0 + 8, c0:c0 + 8]
                        preds[ci] = encode_block(w, block, preds[ci],
                                                 qm, dct, act)
            n_in_chunk += 1
    chunks.append(w.finish())
    return chunks


def encode_jpeg_gray(width: int, height: int, pixels: bytes,
                     qtable: list[int] | None = None,
                     restart_interval: int = 0) -> bytes:
    """Encode 8-bit grayscale pixels (row-major, len == width·height)
    as a baseline JPEG. Default qtable is `FLAT_LOSSLESS_QTABLE` (all
    8s): flat 8×8 tiles then round-trip exactly; pass a real luminance
    table for lossy photographic use — the format is the same."""
    if len(pixels) != width * height:
        raise ValueError("pixel length != width*height")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    return _encode_jpeg(width, height, [(img, 1)], [qtable],
                        restart_interval)


#: SOFn markers of every non-baseline coding process
_SOF_OTHER = (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
              0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)


def _parse_jpeg(payload: bytes) -> tuple:
    """The one segment walk behind every decoder: SOI, then each
    segment up to SOS, every body length-checked before it is indexed.
    Quant/Huffman tables come from the FILE's DQT/DHT segments. Returns
    (width, height, restart interval, scan start, comps) with one
    (blocks per MCU side, qmatrix, dc table, ac table) per frame
    component. The envelope is 8-bit baseline SOF0 with 1 component at
    1×1 or 3 components at 4:4:4 / 4:2:0, in one scan over every
    component; anything else raises ValueError."""
    if payload is None or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    width = height = None
    frame: list[tuple[int, int, int]] = []           # id, sampling, qsel
    scan_sel: dict[int, tuple[int, int]] = {}        # id → dc, ac
    n_scan = 0
    restart = 0
    data_at = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        body = payload[pos + 4:pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                if prec != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if b + 65 > len(body):
                    raise ValueError("truncated DQT segment")
                qtables[tid] = list(body[b + 1:b + 65])
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1:b + 17])
                n = sum(bits)
                if b + 17 + n > len(body):
                    raise ValueError("truncated DHT segment")
                vals = list(body[b + 17:b + 17 + n])
                tab = _huff_decode_table(bits, vals)
                (dc_tabs if cls == 0 else ac_tabs)[tid] = tab
                b += 17 + n
        elif marker == 0xC0:
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("truncated SOF0 segment")
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            height, width = struct.unpack(">HH", body[1:5])
            frame = [tuple(body[6 + 3 * c:9 + 3 * c]) for c in range(body[5])]
        elif marker in _SOF_OTHER:
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xDD:
            if len(body) != 2:
                raise ValueError("bad DRI segment length")
            (restart,) = struct.unpack(">H", body)
        elif marker == 0xDA:
            if not body or len(body) < 1 + 2 * body[0]:
                raise ValueError("truncated SOS segment")
            n_scan = body[0]
            for c in range(n_scan):
                sel = body[2 + 2 * c]
                scan_sel[body[1 + 2 * c]] = (sel >> 4, sel & 0x0F)
            data_at = pos + 2 + ln
            break
        pos += 2 + ln
    if width is None or data_at is None:
        raise ValueError("missing SOF0/SOS")
    if [s for _, s, _ in frame] not in ([0x11], [0x11, 0x11, 0x11],
                                        [0x22, 0x11, 0x11]):
        raise ValueError("only 1x1 grayscale or 4:4:4 / 4:2:0 YCbCr "
                         "supported")
    if n_scan != len(frame):
        raise ValueError("only one interleaved scan over every component "
                         "supported")
    comps = []
    for cid, samp, qsel in frame:
        if qsel not in qtables or cid not in scan_sel:
            raise ValueError("missing quant table or scan selector")
        dsel, asel = scan_sel[cid]
        if dsel not in dc_tabs or asel not in ac_tabs:
            raise ValueError("missing huffman table")
        comps.append((samp >> 4, _zz_to_matrix(qtables[qsel]),
                      dc_tabs[dsel], ac_tabs[asel]))
    return width, height, restart, data_at, comps


def _decode_scan(payload: bytes, width: int, height: int, restart: int,
                 data_at: int, comps: list) -> list[np.ndarray]:
    """The one MCU decode loop for any component list from
    `_parse_jpeg`: Huffman-decode, dequantize and inverse-DCT each
    component's blocks MCU by MCU (restart markers reset every DC
    predictor), then round, clip and crop each plane to its sampled
    size. Returns one uint8 array per component."""
    def read_symbol(r: _BitReader, tab: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | r.read_bit()
            length += 1
            sym = tab.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def extend(bits: int, t: int) -> int:
        return bits if bits >= (1 << (t - 1)) else bits - (1 << t) + 1

    fmax = comps[0][0]
    mcux = (width + 8 * fmax - 1) // (8 * fmax)
    mcuy = (height + 8 * fmax - 1) // (8 * fmax)
    # (plane, blocks-per-MCU-side, qmatrix, dc table, ac table)
    work = [(np.zeros((mcuy * c[0] * 8, mcux * c[0] * 8)), *c)
            for c in comps]
    c_t, c_m, zz_np, zeros = _C.T, _C, _ZZ_NP, np.zeros
    r = _BitReader(payload, data_at)
    preds = [0] * len(comps)
    n_in_chunk = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and n_in_chunk == restart:
                r.align()
                m = r.at_marker()
                if m is None or not 0xD0 <= m <= 0xD7:
                    raise ValueError("expected restart marker")
                r.pos += 2
                preds = [0] * len(comps)
                n_in_chunk = 0
            for ci, (plane, f, qm, dct, act) in enumerate(work):
                for by in range(f):
                    for bx in range(f):
                        zz = [0] * 64
                        t = read_symbol(r, dct)
                        diff = extend(r.read_bits(t), t) if t else 0
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        i = 1
                        while i < 64:
                            sym = read_symbol(r, act)
                            if sym == 0x00:              # EOB
                                break
                            run, t = sym >> 4, sym & 0x0F
                            if t == 0:
                                if run != 15:
                                    raise ValueError("bad AC symbol")
                                i += 16                  # ZRL
                                # i == 64 is only expressible by a stream
                                # that pads the tail with ZRL instead of
                                # EOB — no conforming encoder does; loud
                                # error beats silent desync
                                if i >= 64:
                                    raise ValueError(
                                        "ZRL overflows block")
                                continue
                            i += run
                            if i >= 64:
                                raise ValueError("AC run overflows block")
                            zz[i] = extend(r.read_bits(t), t)
                            i += 1
                        coef = zeros(64)
                        coef[zz_np] = zz                 # de-zigzag
                        block = c_t @ (coef.reshape(8, 8) * qm) @ c_m
                        r0 = (my * f + by) * 8
                        c0 = (mx * f + bx) * 8
                        plane[r0:r0 + 8, c0:c0 + 8] = block
            n_in_chunk += 1
    return [np.clip(np.rint(p + 128.0), 0, 255).astype(np.uint8)[
                :-(-height * f // fmax), :-(-width * f // fmax)]
            for p, f, _, _, _ in work]


def _decode_jpeg(payload: bytes, channels: int | None = None
                 ) -> tuple[int, int, int, bytes]:
    """Parse once, decode the scan, assemble the pixels: (width,
    height, channels, bytes) — grayscale bytes for 1 component,
    interleaved RGB for 3 (4:2:0 chroma upsampled by 2×2 replication,
    then `ycbcr_to_rgb`). `channels` pins the component count."""
    width, height, restart, data_at, comps = _parse_jpeg(payload)
    if channels is not None and len(comps) != channels:
        raise ValueError(
            f"expected {channels} component(s), got {len(comps)} "
            "(grayscale → decode_jpeg_gray, YCbCr → decode_jpeg_color)")
    planes = _decode_scan(payload, width, height, restart, data_at, comps)
    if len(planes) == 1:
        return width, height, 1, planes[0].tobytes()
    yp, cbp, crp = planes
    if comps[0][0] == 2:
        cbp = np.repeat(np.repeat(cbp, 2, 0), 2, 1)[:height, :width]
        crp = np.repeat(np.repeat(crp, 2, 0), 2, 1)[:height, :width]
    return width, height, 3, ycbcr_to_rgb(yp, cbp, crp).tobytes()


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline grayscale JPEG to (width, height, row-major
    pixel bytes). Quant/Huffman tables come from the FILE's DQT/DHT
    segments; restart markers reset the DC predictor; MCU padding is
    cropped. Raises ValueError outside the supported envelope."""
    width, height, _, px = _decode_jpeg(payload, 1)
    return width, height, px


#: standard chrominance Huffman tables (JPEG Annex K.3, Tables K.4/K.6)
DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

#: standard chrominance encode maps, built once at import
_DC_ENC_C = _huff_encode_table(DC_BITS_C, DC_VALS_C)
_AC_ENC_C = _huff_encode_table(AC_BITS_C, AC_VALS_C)

#: per table id (0 luma, 1 chroma): the DHT specs the file writer
#: emits and the (dc, ac) encode maps the scan writer codes with
_HUFF_SPECS = [(DC_BITS, DC_VALS, AC_BITS, AC_VALS),
               (DC_BITS_C, DC_VALS_C, AC_BITS_C, AC_VALS_C)]
_HUFF_ENC = [(_DC_ENC, _AC_ENC), (_DC_ENC_C, _AC_ENC_C)]


#: natural-order index → zig-zag position (inverse of ZIGZAG), as an
#: ndarray so quantizer/coefficient reordering is one fancy-index op
_ZZ_INV = np.array([ZIGZAG.index(i) for i in range(64)], dtype=np.intp)
_ZZ_NP = np.array(ZIGZAG, dtype=np.intp)

_ZZ_MATRIX_CACHE: dict[tuple, np.ndarray] = {}


def _zz_to_matrix(q: list[int]) -> np.ndarray:
    """64 zig-zag-ordered quantizer entries → natural-order 8×8 matrix.
    Memoized: encoders pass a handful of distinct tables per process
    (usually just the flat-lossless default) and the reorder was a
    64-element list scan per entry."""
    key = tuple(q)
    m = _ZZ_MATRIX_CACHE.get(key)
    if m is None:
        m = np.asarray(q, dtype=np.float64)[_ZZ_INV].reshape(8, 8)
        m.setflags(write=False)
        _ZZ_MATRIX_CACHE[key] = m
    return m


def _encode_block(w: "_BitWriter", block: np.ndarray, pred: int,
                  qm: np.ndarray, dc_tab: dict, ac_tab: dict) -> int:
    """Forward-DCT + quantize + entropy-code one level-shifted 8×8
    block; returns the new DC predictor for the block's component."""
    coef = (_C @ block @ _C.T) / qm
    qc = np.sign(coef) * np.floor(np.abs(coef) + 0.5)
    zz = qc.take(_ZZ_NP).astype(np.int64)
    dc = int(zz[0])
    t, bits = _magnitude(dc - pred)
    code, ln = dc_tab[t]
    w.write(code, ln)
    if t:
        w.write(bits, t)
    # walk only the non-zero AC positions (blocks are sparse after
    # quantization; fixture flat tiles are DC-only) — run lengths come
    # from the index gaps, byte-identical to the dense 1..63 walk
    prev = 0
    for i in np.flatnonzero(zz[1:]) + 1:
        run = i - prev - 1
        while run > 15:
            code, ln = ac_tab[0xF0]                      # ZRL
            w.write(code, ln)
            run -= 16
        t, bits = _magnitude(int(zz[i]))
        code, ln = ac_tab[(run << 4) | t]
        w.write(code, ln)
        w.write(bits, t)
        prev = i
    if prev != 63:
        code, ln = ac_tab[0x00]                          # EOB
        w.write(code, ln)
    return dc


def _pad_to_blocks(plane: np.ndarray, bh8: int, bw8: int) -> np.ndarray:
    """Edge-replicate a plane up to (bh8·8, bw8·8) and level-shift."""
    h, w = plane.shape
    if bh8 * 8 == h and bw8 * 8 == w:                    # already aligned
        return plane.astype(np.float64) - 128.0
    return np.pad(plane, ((0, bh8 * 8 - h), (0, bw8 * 8 - w)),
                  mode="edge").astype(np.float64) - 128.0


def rgb_to_ycbcr_planes(width: int, height: int, rgb: bytes,
                        subsampling: str = "4:2:0"
                        ) -> tuple[bytes, bytes, bytes]:
    """JFIF RGB→YCbCr with round-half-up, then 2×2 box chroma subsample
    for 4:2:0 (odd edges replicate). The real-use front door for
    `encode_jpeg_color`; the oracle fixture synthesizes YCbCr planes
    directly so its losslessness argument doesn't depend on this."""
    if len(rgb) != 3 * width * height:
        raise ValueError("rgb length != 3*width*height")
    a = np.frombuffer(rgb, dtype=np.uint8).astype(np.float64)
    a = a.reshape(height, width, 3)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = np.floor((0.299 * r + 0.587 * g + 0.114 * b) + 0.5)
    cb = np.floor((128.0 + (-0.168736 * r - 0.331264 * g + 0.5 * b)) + 0.5)
    cr = np.floor((128.0 + (0.5 * r - 0.418688 * g - 0.081312 * b)) + 0.5)
    y, cb, cr = (np.clip(p, 0, 255) for p in (y, cb, cr))
    if subsampling == "4:4:4":
        return (y.astype(np.uint8).tobytes(), cb.astype(np.uint8).tobytes(),
                cr.astype(np.uint8).tobytes())
    if subsampling != "4:2:0":
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")
    ph, pw = (height + 1) // 2 * 2, (width + 1) // 2 * 2
    out = []
    for p in (cb, cr):
        p = np.pad(p, ((0, ph - height), (0, pw - width)), mode="edge")
        q = p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        out.append(np.clip(np.floor(q + 0.5), 0, 255)
                   .astype(np.uint8).tobytes())
    return y.astype(np.uint8).tobytes(), out[0], out[1]


def encode_jpeg_color(width: int, height: int, y: bytes, cb: bytes,
                      cr: bytes, subsampling: str = "4:2:0",
                      qtable_y: list[int] | None = None,
                      qtable_c: list[int] | None = None,
                      restart_interval: int = 0) -> bytes:
    """Encode YCbCr planes as a baseline interleaved-scan color JPEG.
    `y` is width·height bytes; for 4:2:0 `cb`/`cr` are
    ⌈w/2⌉·⌈h/2⌉ bytes (caller-subsampled — see `rgb_to_ycbcr_planes`),
    for 4:4:4 they are full-size. Luma uses table/quantizer id 0,
    chroma id 1 (standard Annex-K Huffman tables for both). Default
    quantizers are all-8s so flat-tile fixtures round-trip exactly."""
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")
    s420 = subsampling == "4:2:0"
    cw = (width + 1) // 2 if s420 else width
    chh = (height + 1) // 2 if s420 else height
    if len(y) != width * height:
        raise ValueError("y length != width*height")
    if len(cb) != cw * chh or len(cr) != cw * chh:
        raise ValueError("chroma plane length mismatch for " + subsampling)
    planes = [(np.frombuffer(y, dtype=np.uint8).reshape(height, width),
               2 if s420 else 1)]                        # luma sampling
    planes += [(np.frombuffer(c, dtype=np.uint8).reshape(chh, cw), 1)
               for c in (cb, cr)]
    return _encode_jpeg(width, height, planes, [qtable_y, qtable_c],
                        restart_interval)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray
                 ) -> np.ndarray:
    """JFIF YCbCr→RGB with round-half-up (floor(x+0.5)) in IEEE-754
    double and a FIXED evaluation order, so DuckDB double arithmetic in
    the SQL oracle reproduces the bytes exactly. Returns (h, w, 3)
    uint8."""
    y = y.astype(np.float64)
    cb = cb.astype(np.float64)
    cr = cr.astype(np.float64)
    r = np.floor((y + 1.402 * (cr - 128.0)) + 0.5)
    g = np.floor(((y - 0.344136 * (cb - 128.0))
                  - 0.714136 * (cr - 128.0)) + 0.5)
    b = np.floor((y + 1.772 * (cb - 128.0)) + 0.5)
    return np.stack([np.clip(r, 0, 255), np.clip(g, 0, 255),
                     np.clip(b, 0, 255)], axis=-1).astype(np.uint8)


def decode_jpeg_color(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline interleaved 3-component YCbCr JPEG (4:4:4 or
    4:2:0) to (width, height, row-major interleaved RGB bytes). All
    tables come from the FILE's DQT/DHT segments; restart markers reset
    every component's DC predictor; MCU padding is cropped; 4:2:0
    chroma is upsampled by 2×2 replication before the exact-rounding
    RGB conversion (`ycbcr_to_rgb`). Raises ValueError outside the
    envelope (grayscale payloads belong to `decode_jpeg_gray`)."""
    width, height, _, px = _decode_jpeg(payload, 3)
    return width, height, px


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """Dispatch on the SOF0 component count: returns (width, height,
    channels, pixel bytes) — channels 1 (grayscale bytes) or 3
    (interleaved RGB)."""
    return _decode_jpeg(payload)
