"""Cross-codec contracts for the pure-stdlib media codecs (JPEG, GIF,
WAV): encoder bytes are pinned by digest over a fixed grid, and every
public decoder either returns or raises ValueError on malformed input —
crafted short segments and a seeded truncation/byte-flip fuzz."""

import hashlib
import random
import struct

import numpy as np
import pytest

from felixzh_flink_spark.functions import gif_codec as G
from felixzh_flink_spark.functions import jpeg_codec as J
from felixzh_flink_spark.functions import wav_codec as W


def _noise(n, seed, mod=256):
    return bytes((i * 97 + seed * 31 + (i * i) % 17) % mod for i in range(n))


def _gray(w, h, rst, q=None):
    return J.encode_jpeg_gray(w, h, _noise(w * h, w + h), qtable=q,
                              restart_interval=rst)


def _color(w, h, sub, rst, smooth=False):
    if smooth:
        yy, xx = np.mgrid[0:h, 0:w]
        rgb = np.stack([(xx * 5) % 256, (yy * 7) % 256, ((xx + yy) * 3) % 256],
                       -1).astype(np.uint8).tobytes()
        y, cb, cr = J.rgb_to_ycbcr_planes(w, h, rgb, sub)
    else:
        cw, chh = ((w + 1) // 2, (h + 1) // 2) if sub == "4:2:0" else (w, h)
        y = _noise(w * h, 1)
        cb, cr = _noise(cw * chh, 2), _noise(cw * chh, 3)
    return J.encode_jpeg_color(w, h, y, cb, cr, sub, restart_interval=rst)


def _pal(n):
    return bytes(v for e in range(n)
                 for v in ((3 * e) % 256, (5 * e + 1) % 256,
                           (7 * e + 2) % 256))


def _composited():
    frames = [(0, 0, 0, 6, 5, _noise(30, 1, 4), 1, None),
              (30, 1, 2, 3, 2, _noise(6, 2, 4), 2, 3),
              (10, 2, 1, 4, 3, _noise(12, 3, 4), 3, None),
              (20, 0, 0, 2, 2, bytes([1, 2, 3, 0]), 0, 0)]
    return G.encode_gif_composited(6, 5, _pal(4), 2, frames)


def _encoder_grid():
    grid = {}
    for w, h in ((8, 8), (13, 11), (19, 5)):
        for rst in (0, 1, 2):
            grid[f"jpeg_gray_{w}x{h}_r{rst}"] = lambda w=w, h=h, rst=rst: \
                _gray(w, h, rst)
            for sub in ("4:4:4", "4:2:0"):
                grid[f"jpeg_color_{sub}_{w}x{h}_r{rst}"] = \
                    lambda w=w, h=h, sub=sub, rst=rst: _color(w, h, sub, rst)
    grid["jpeg_gray_qtable"] = lambda: _gray(
        21, 9, 3, q=[(k % 30) + 1 for k in range(64)])
    for sub in ("4:4:4", "4:2:0"):
        grid[f"jpeg_color_smooth_{sub}"] = lambda sub=sub: _color(
            37, 23, sub, 2, smooth=True)
    for n in (2, 16, 256):
        for il in (False, True):
            grid[f"gif_single_{n}_il{int(il)}"] = lambda n=n, il=il: \
                G.encode_gif(7, 9, _noise(63, n, n), _pal(n), interlace=il)
    for il in (False, True):
        grid[f"gif_animation_il{int(il)}"] = lambda il=il: \
            G.encode_gif_animation(
                5, 10, _pal(8), [(0, _noise(50, 1, 8)),
                                 (120, _noise(50, 2, 8)),
                                 (650, _noise(50, 3, 8))], interlace=il)
    grid["gif_composited"] = _composited
    for bits in (8, 16, 24, 32):
        lo, hi = (0, 255) if bits == 8 else (-(1 << (bits - 1)),
                                             (1 << (bits - 1)) - 1)
        for ch in (1, 2):
            grid[f"wav_pcm{bits}_ch{ch}"] = \
                lambda lo=lo, hi=hi, bits=bits, ch=ch: W.encode_wav(
                    [lo + (i * 7919 + 13) % (hi - lo + 1)
                     for i in range(12 * ch)],
                    sample_rate=22_050, channels=ch, bits=bits)
    grid["wav_adpcm"] = lambda: W.encode_wav_ima_adpcm(
        -1000, 17, bytes((k * 7 + 3) % 16 for k in range(24)))
    grid["wav_mulaw"] = lambda: W.encode_wav_mulaw(_noise(16, 5), 8_000, 2)
    return grid


#: sha256 of each encoder output over `_encoder_grid`; any change to the
#: bytes an encoder writes shows up here
ENCODER_DIGESTS = {
    "gif_animation_il0":
        "511998be2ad19d6e64d02fe9934820440b8125e625df66d732923635c421053a",
    "gif_animation_il1":
        "9455f158cfd6f67b25043d02428da1ba0ede42e1c7659fe4e71217cf8e2e0534",
    "gif_composited":
        "25e489288b35608b402d8e7024e777618be2b3dcd0da8360973f12f73b6b2cb3",
    "gif_single_16_il0":
        "22462c8c2b5d675bae19e51fe017d0d3c40c6dd9840db9f3d029a1437817a323",
    "gif_single_16_il1":
        "edefd71b6c8de7e64fbf450e7d99f6665c9e9b098030e0e1f7bc551c9e1fad6e",
    "gif_single_256_il0":
        "c0a5a549f4df1ca94ee0e2069d2f64c8d458842c3559dc5a173757cbb35d930e",
    "gif_single_256_il1":
        "5312705898ab70c1b135ef99ef917956aa38847073e3cd2ae9b7061402a2049c",
    "gif_single_2_il0":
        "6d66e0fb5d27b691a491e55a8c41d36e0260132802a8bdfc06f2e67c3b817364",
    "gif_single_2_il1":
        "fce35185d8895f7d6ae01b7b9ec0fb9973dddde59a362606519bf1ff33014806",
    "jpeg_color_4:2:0_13x11_r0":
        "15bbf0afc6e9077535f2968c0b712c15472a9f94b985a5e5be943611c4bc876b",
    "jpeg_color_4:2:0_13x11_r1":
        "7a889eb4a227494abf5ad484e684044048ea0fb6ee3f89ca3cec02d0905d82c7",
    "jpeg_color_4:2:0_13x11_r2":
        "c8414b5f29bf85465677b24fc7cad1c86032f5b7ff706c133aa46bcd345447e4",
    "jpeg_color_4:2:0_19x5_r0":
        "04af717a7f474fe21a0a8079b41f94fde9e338ca8d280fbeb2bd13863721766b",
    "jpeg_color_4:2:0_19x5_r1":
        "29470767a526f3c8a09d382ba7f7553dec411944fc7abbf483752bb6820cc479",
    "jpeg_color_4:2:0_19x5_r2":
        "448a630a04b1bf5146b679a1b575bdb71f02571e0c22f6616328e3c4dabd6393",
    "jpeg_color_4:2:0_8x8_r0":
        "b4d407b47b058b2a6464379e6022a096640184ee08975fb0d22f4371d4a56b95",
    "jpeg_color_4:2:0_8x8_r1":
        "22b55e454befae935c2f9e82338ea40fdb27b866b9422dfc9c3b0ebf001814cb",
    "jpeg_color_4:2:0_8x8_r2":
        "a5e599f0922cd14819215cb161d4a9d75875577d9e0ca803d3a3cb597ccd7480",
    "jpeg_color_4:4:4_13x11_r0":
        "438b6d7ee9277cefc74f1b61b1dbefa0a13ed6908271200f84a2915a52366f22",
    "jpeg_color_4:4:4_13x11_r1":
        "bcc062c8497a7eae59eb6ece6c183f2fbd7ed5820b37b701e6895e93bcf52d06",
    "jpeg_color_4:4:4_13x11_r2":
        "4b63b0a087d242f1da68a6868eaefd1db85ee5d376827c407e928fb49f504515",
    "jpeg_color_4:4:4_19x5_r0":
        "eecf1f5bd23db5c8c4c2b6fbef4f4a8c2f643ed57fd2e6e03cd0a7f393a7fdba",
    "jpeg_color_4:4:4_19x5_r1":
        "d6284b85f8ecb08a854392dc1798a35ecc1715f0e940f40c1a917ddc77be4dab",
    "jpeg_color_4:4:4_19x5_r2":
        "2b4af96a37f08495583221182968cee479dac54b6927e81c99f0182d0d3eefa2",
    "jpeg_color_4:4:4_8x8_r0":
        "f6da1540af1f4ce0a353d96861869b0b02892fe26d9ae2d8b53af9ab5c019f2c",
    "jpeg_color_4:4:4_8x8_r1":
        "cdaa85b61ffd9348ddd24f7f7e34640ccb55f066be6cbc704f4ba139089f7844",
    "jpeg_color_4:4:4_8x8_r2":
        "382a871ebc2d4c3084005ca7e841771fe8247d3f5fb8357e54fcca4388236a72",
    "jpeg_color_smooth_4:2:0":
        "49322c63c3483aa626922b4fd1ad471525debf7050c2f11fe5c8c24ebb14ef67",
    "jpeg_color_smooth_4:4:4":
        "e383a44abd79c5e36a94061c5b23d33d8fe4b5aa8f4da2ca00e9daa19ecd1500",
    "jpeg_gray_13x11_r0":
        "fa6839d779f3fd67b261dec15a5e7475c7f4291c781b137a98ae4d7d59b1e3c4",
    "jpeg_gray_13x11_r1":
        "4d04af53bf2c4aab95781edb4d2922f859a7e3e8520115e73797b2c75fff0c86",
    "jpeg_gray_13x11_r2":
        "bf8f7c0dfca037ee802ec72057a4c988b0d6e70dec9b9533165d3844d6f45478",
    "jpeg_gray_19x5_r0":
        "d23a1314e3b83eb6e145077568ad166d8d6bfd3e48c25cb85e0acef18235d00e",
    "jpeg_gray_19x5_r1":
        "f7c7aaad43781c6c776735484e0ac3da80fb2e94ab397d63bb311cec74f8ba0f",
    "jpeg_gray_19x5_r2":
        "e5e7b77975beccf362d7f67d62ad91cef7a0c75220d830d383eefb4b2ef5ea6c",
    "jpeg_gray_8x8_r0":
        "c20ee0a4faa22096288aa2d7424a75cdcc9d275f3e9ef8c1de52b51f613584fc",
    "jpeg_gray_8x8_r1":
        "d9eca28c27867ecad2bc7a2c1773c8578a963775d1f1f2bdb82afa10f8809ad9",
    "jpeg_gray_8x8_r2":
        "f4920466a823672d4017f18ef2c450bfcc89719c1e04895f41e2320574b2c68d",
    "jpeg_gray_qtable":
        "db0fff395f0735b13954f38fb21a2d7d9ed5664293aa33130c188f16a2faa867",
    "wav_adpcm":
        "20a1446ea37faeb91649c3eefd41cd7ebb44e3ca63b9ef9c86de9602d0af5269",
    "wav_mulaw":
        "d4204ddca1abaab6c7c8f70783493990ffc71b7f37029d2e83f3d40205b74a9f",
    "wav_pcm16_ch1":
        "98b7dc263aa223da83c91085dec9cbdf5908317b031170f1a7584bace00ee8dd",
    "wav_pcm16_ch2":
        "89d6f70fab6d504a94dcd467b12ac6ea6bf3b187c16039ea193af2b557df8fa9",
    "wav_pcm24_ch1":
        "bbb4b377aee19a5c1962bb1c43f00c4508aa143ec4b4a02f0b3785e7f85396a2",
    "wav_pcm24_ch2":
        "617536c35f8ffadc590a13142b38c8f90c9f13f572de58f0b60c19848645a416",
    "wav_pcm32_ch1":
        "91d51abfdcb94b240bc2c315bcbcd3429056cd42f499b7dab0a553fe381ea22d",
    "wav_pcm32_ch2":
        "1aa6666be1f9d636ee562e52ffa7f35e46a0ef428849729c77e269997094d868",
    "wav_pcm8_ch1":
        "c49b710be5bb70275a157fadb32cf18dbc34d5d1812c917180d1644cad2e6425",
    "wav_pcm8_ch2":
        "90cc2999be53a11c4d35051da64697bb2345f6ed7b48b10fb522b01532c8ad56",
}


@pytest.mark.parametrize("name", sorted(_encoder_grid()))
def test_encoder_bytes_are_pinned(name):
    payload = _encoder_grid()[name]()
    assert hashlib.sha256(payload).hexdigest() == ENCODER_DIGESTS[name]


# ------------------------------------------- ValueError on malformed input

def _set_segment_length(payload, marker, length):
    at = payload.index(bytes([0xFF, marker]))
    return payload[:at + 2] + struct.pack(">H", length) + payload[at + 4:]


_GRAY_RST = _gray(13, 11, 1)
_COLOR = _color(13, 11, "4:2:0", 2)


@pytest.mark.parametrize("payload,decoder", [
    (_set_segment_length(_GRAY_RST, 0xC0, 5), J.decode_jpeg_gray),
    (_set_segment_length(_GRAY_RST, 0xDD, 5), J.decode_jpeg_gray),
    (_set_segment_length(_GRAY_RST, 0xDA, 3), J.decode_jpeg_gray),
    (_set_segment_length(_COLOR, 0xC0, 10), J.decode_jpeg_color),
], ids=["gray_sof0_5", "dri_5", "sos_3", "color_sof0_10"])
def test_short_jpeg_segments_raise_value_error(payload, decoder):
    """A segment whose declared length leaves its body shorter than the
    fields the decoder reads must raise ValueError, from the specific
    decoder and from the dispatching `decode_jpeg` alike."""
    for decode in (decoder, J.decode_jpeg):
        with pytest.raises(ValueError):
            decode(payload)


def _set_wav_channels(payload, channels):
    # RIFF header (12 bytes) + fmt chunk header (8) + format tag (2)
    return payload[:22] + struct.pack("<H", channels) + payload[24:]


@pytest.mark.parametrize("channels", [0, 3])
def test_wav_channel_count_must_frame_the_samples(channels):
    """A PCM WAV whose fmt chunk declares no channels, or a channel
    count that does not divide the sample count, raises ValueError
    instead of decoding to an unframed sample list."""
    stereo = W.encode_wav(list(range(-4, 4)), 16_000, 2, 16)
    assert W.decode_wav(stereo)[:3] == (16_000, 2, 16)
    with pytest.raises(ValueError):
        W.decode_wav(_set_wav_channels(stereo, channels))


_FUZZ_FIXTURES = [
    (J.decode_jpeg_gray, _GRAY_RST),
    (J.decode_jpeg_color, _COLOR),
    (J.decode_jpeg, _gray(8, 16, 0)),
    (J.decode_jpeg, _color(9, 8, "4:4:4", 1)),
    (G.decode_gif, G.encode_gif(7, 9, _noise(63, 4, 16), _pal(16),
                                interlace=True)),
    (G.decode_gif_frames, G.encode_gif_animation(
        5, 4, _pal(4), [(0, _noise(20, 1, 4)), (30, _noise(20, 2, 4))])),
    (G.composite_gif_frames, _composited()),
    (W.decode_wav, W.encode_wav(list(range(-8, 8)), channels=2)),
    (W.decode_wav_adpcm, W.encode_wav_ima_adpcm(
        100, 5, bytes((k * 5) % 16 for k in range(12)))),
    (W.decode_wav_mulaw, W.encode_wav_mulaw(_noise(10, 7), channels=2)),
]


@pytest.mark.parametrize("decode,payload", _FUZZ_FIXTURES,
                         ids=[f"{d.__name__}_{i}"
                              for i, (d, _) in enumerate(_FUZZ_FIXTURES)])
def test_decoders_return_or_raise_value_error(decode, payload):
    """Seeded fuzz of every public decoder: each truncation, each byte
    set to 3 (a too-short length), and 300 random byte flips. Each call
    must return or raise ValueError — never IndexError, struct.error or
    any other exception."""
    rng = random.Random(len(payload))
    cases = [payload[:k] for k in range(len(payload))]
    cases += [payload[:k] + b"\x03" + payload[k + 1:]
              for k in range(len(payload))]
    for _ in range(300):
        k = rng.randrange(len(payload))
        flip = payload[k] ^ rng.randrange(1, 256)
        cases.append(payload[:k] + bytes([flip]) + payload[k + 1:])
    for case in cases:
        try:
            decode(case)
        except ValueError:
            pass
