"""VP8L (lossless WebP) decoder vs the INDEPENDENT test-side encoder
(tests/vp8l_encoder.py — own bit writer, canonical-code assignment and
forward transforms), plus refusal and robustness cases."""

import struct

import numpy as np
import pytest

from datamancer_spark.operators.webpcodec import (
    vp8l_decode_array,
    webp_supported,
)
from vp8l_encoder import BitWriter, _write_prefix_code, encode_vp8l


def _grad(h, w):
    img = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            img[y, x] = [(x * 7 + y) % 256, (x * 3) % 256, (y * 11) % 256]
    return img


RNG = np.random.default_rng(11)
TEX = RNG.integers(0, 256, size=(16, 21, 3), dtype=np.uint8)
FEW = (RNG.integers(0, 3, size=(12, 19, 1)) * np.array([[[40, 80, 120]]])).astype(
    np.uint8
)
GRAD = _grad(16, 21)


class TestRoundTrip:
    CASES = [
        ("plain", TEX, {}),
        ("solid_lz77", np.full((9, 9, 3), 77, dtype=np.uint8), {}),
        ("subtract_green", GRAD, dict(subtract_green=True)),
        ("pred_L", GRAD, dict(predictor_mode=1)),
        ("pred_T", GRAD, dict(predictor_mode=2)),
        ("pred_TR", GRAD, dict(predictor_mode=3)),
        ("pred_TL", GRAD, dict(predictor_mode=4)),
        ("pred_avg_LT", GRAD, dict(predictor_mode=7)),
        ("pred_avg_TTR", GRAD, dict(predictor_mode=9)),
        ("pred_clamp_full", GRAD, dict(predictor_mode=12)),
        ("pred_select", TEX, dict(predictor_mode=11)),
        ("pred_clamp_half", GRAD, dict(predictor_mode=13)),
        ("pred_clamp_half_tex", TEX, dict(predictor_mode=13)),
        ("pred_plus_sg", GRAD, dict(subtract_green=True, predictor_mode=7)),
        ("pred_big_blocks", GRAD, dict(predictor_mode=2, predictor_shift=4)),
        ("color_transform", GRAD, dict(color_transform=(3, 250, 10))),
        ("ct_negative_mults", GRAD, dict(color_transform=(200, 17, 130))),
        ("palette_3col", FEW, dict(palette=True, lz77=False)),
        ("palette_3col_lz", FEW, dict(palette=True)),
        ("palette_2col", (FEW > 0).astype(np.uint8) * 200, dict(palette=True)),
        ("cache4", TEX, dict(cache_bits=4)),
        ("cache6_sg", TEX, dict(cache_bits=6, subtract_green=True)),
        ("no_clc_repeats", TEX, dict(use_repeats=False)),
        ("stack", GRAD, dict(subtract_green=True, predictor_mode=2, cache_bits=3)),
        ("odd_dims", _grad(7, 30), dict(predictor_mode=7)),
        ("one_pixel", np.array([[[9, 8, 7]]], dtype=np.uint8), {}),
        ("one_row", _grad(1, 40), dict(cache_bits=2)),
        ("one_col", _grad(40, 1), {}),
    ]

    @pytest.mark.parametrize("name,img,kw", CASES, ids=[c[0] for c in CASES])
    def test_exact(self, name, img, kw):
        out = vp8l_decode_array(encode_vp8l(img, **kw))
        assert out is not None, name
        w, h, ch, px = out
        assert (w, h, ch) == (img.shape[1], img.shape[0], 3)
        assert (px == img).all(), name

    def test_select_tie_breaks_to_top(self):
        """Pixels engineered so the Select estimate is EQUIDISTANT from
        L and T with L != T (TL=100³, L=+10 red, T=+10 green): the spec
        returns T on ties (L only when strictly closer). A decoder that
        returns L on ties decodes every odd/odd pixel wrong."""
        img = np.zeros((8, 9, 3), dtype=np.uint8)
        img[0::2, 0::2] = (100, 100, 100)
        img[0::2, 1::2] = (100, 110, 100)
        img[1::2, 0::2] = (110, 100, 100)
        img[1::2, 1::2] = (123, 45, 67)
        out = vp8l_decode_array(encode_vp8l(img, predictor_mode=11))
        assert out is not None and (out[3] == img).all()

    def test_clamp_half_truncates_toward_zero(self):
        from datamancer_spark.operators.webpcodec import (
            _clamp_add_sub_half,
            _select,
        )

        # a=10, b=11: spec value 10 + (-1)/2 = 10 (C truncation);
        # floor-shift arithmetic would give 9
        assert _clamp_add_sub_half(10, 11) & 0xFF == 10
        assert _clamp_add_sub_half(10, 13) & 0xFF == 9  # -3/2 -> -1
        assert _clamp_add_sub_half(13, 10) & 0xFF == 14  # +3/2 -> +1
        # select tie (pL == pT, L != T) -> T
        l = 110  # blue 110
        t = 100 | (10 << 8)  # blue 100, green 10: same total distance
        tl = 100
        assert _select(l, t, tl) == t

    def test_palette_many_colors_unpacked(self):
        # > 16 colors: no pixel bundling, plain index image
        img = (RNG.integers(0, 40, size=(10, 11, 1)) * np.array([[[5, 3, 2]]])).astype(
            np.uint8
        )
        out = vp8l_decode_array(encode_vp8l(img, palette=True))
        assert out is not None and (out[3] == img).all()

    def test_dry_run_parity(self):
        blob = encode_vp8l(GRAD, subtract_green=True, cache_bits=3)
        full = vp8l_decode_array(blob)
        dry = vp8l_decode_array(blob, dry_run=True)
        assert full is not None and dry is not None
        assert dry[:3] == full[:3] and dry[3] is None


def _raw_vp8l(payload_bits: BitWriter) -> bytes:
    payload = b"\x2f" + payload_bits.bytes()
    if len(payload) & 1:
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload + b"\x00"
    else:
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


class TestRefusals:
    def test_neighbor_distance_code_refused(self):
        """Hand-built 2x1 stream whose copy selects distance code 1 —
        the 120-entry neighbor map the decoder must refuse loudly."""
        bw = BitWriter()
        bw.write(1, 14)  # w-1 -> 2
        bw.write(0, 14)  # h-1 -> 1
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no cache
        bw.write(0, 1)  # no meta groups
        g = [0] * 280
        g[0] = 1       # green literal 0
        g[256] = 1     # length code 0 (length 1)
        _write_prefix_code(bw, g, True)
        for _ in range(3):  # red/blue/alpha: single-symbol codes
            s = [0] * 256
            s[0] = 1
            _write_prefix_code(bw, s, True)
        d = [0] * 40
        d[0] = 1       # distance code 0 -> value 1 -> NEIGHBOR map
        _write_prefix_code(bw, d, True)
        # pixel 1: literal (1 bit: green code 0); pixel 2: copy len 1
        bw.write_code(0, 1)
        bw.write_code(1, 1)  # green symbol 256 (canonical: 0->0, 256->1)
        # distance code is single-symbol -> zero bits
        assert vp8l_decode_array(_raw_vp8l(bw)) is None

    def test_plain_distance_same_stream_decodes(self):
        """Identical stream shape but a PLAIN distance (code 121 ->
        dist 1) — proves the refusal above is the neighbor map, not
        the copy machinery."""
        bw = BitWriter()
        bw.write(1, 14)
        bw.write(0, 14)
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(0, 1)
        bw.write(0, 1)
        bw.write(0, 1)
        g = [0] * 280
        g[0] = 1
        g[256] = 1
        _write_prefix_code(bw, g, True)
        for _ in range(3):
            s = [0] * 256
            s[0] = 1
            _write_prefix_code(bw, s, True)
        d = [0] * 40
        # dist_code 121 via the prefix rule: code 13 has extra=5,
        # offset=(2+1)<<5=96 -> value 121 = 96 + 24 + 1
        d[13] = 1
        _write_prefix_code(bw, d, True)
        bw.write_code(0, 1)   # literal
        bw.write_code(1, 1)   # length code 0
        bw.write(24, 5)       # distance extra bits -> dist_code 121
        out = vp8l_decode_array(_raw_vp8l(bw))
        assert out is not None
        px = out[3]
        assert px.shape == (1, 2, 3) and (px[0, 0] == px[0, 1]).all()

    def test_lossy_vp8_refused(self):
        fake = b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8 " + struct.pack(
            "<I", 8
        ) + b"\x00" * 8
        assert vp8l_decode_array(fake) is None
        assert webp_supported(fake) is False

    def test_capability_walk(self):
        assert webp_supported(encode_vp8l(GRAD, cache_bits=3)) is True


class TestRobustness:
    def test_truncation_never_raises(self):
        blob = encode_vp8l(TEX, cache_bits=4, subtract_green=True)
        for frac in (0.95, 0.7, 0.4, 0.1, 0.01):
            vp8l_decode_array(blob[: int(len(blob) * frac)])

    def test_mutations_never_raise(self):
        blob = bytearray(encode_vp8l(GRAD, predictor_mode=7))
        rng = np.random.default_rng(4)
        for _ in range(200):
            b = bytearray(blob)
            b[rng.integers(12, len(b))] ^= int(rng.integers(1, 256))
            vp8l_decode_array(bytes(b))

    def test_garbage(self):
        assert vp8l_decode_array(b"") is None
        assert vp8l_decode_array(b"RIFF\x00\x00\x00\x00WEBP") is None
        assert vp8l_decode_array(b"\x00" * 64) is None


class TestIntegration:
    def test_classifier_and_coverage(self, spark):
        from datamancer_spark.operators.multimodal import (
            media_decode_coverage,
        )

        rows = [
            ("a.webp", bytearray(encode_vp8l(GRAD))),
            (
                "b.webp",
                bytearray(
                    b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8 "
                    + struct.pack("<I", 8) + b"\x00" * 8
                ),
            ),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        cov = {
            r["container"]: (r["n"], r["n_screenable"])
            for r in media_decode_coverage(df).collect()
        }
        assert cov["webp"] == (2, 1)

    def test_decode_images_and_cross_format_dhash(self, spark):
        """The same pixels as PNG and as VP8L must produce the SAME
        dHash — the cross-codec perceptual-dedup property the other
        image formats already satisfy."""
        from datamancer_spark.operators.multimodal import (
            decode_images,
            dhash,
        )
        from tests.test_multimodal import _encode_png

        pic = RNG.integers(0, 256, size=(24, 24), dtype=np.uint8)
        rgb = np.stack([pic, pic, pic], axis=2)
        df = spark.createDataFrame(
            [
                ("p.png", bytearray(_encode_png(pic, 0, [0]))),
                ("w.webp", bytearray(encode_vp8l(rgb, subtract_green=True))),
            ],
            "path string, content binary",
        )
        dec = {r["path"]: r for r in decode_images(df).collect()}
        assert dec["w.webp"]["width"] == 24 and dec["w.webp"]["channels"] == 3
        hashes = {r["path"]: r["dhash"] for r in dhash(df).collect()}
        assert hashes["p.png"] == hashes["w.webp"]


class TestMetaGroups:
    """Meta prefix groups with GENUINELY DIFFERENT tables per group
    (left/right halves with disjoint value ranges): a wrong per-pixel
    group selection in the decoder picks the wrong trees and cannot
    round-trip."""

    def _img(self):
        rng = np.random.default_rng(21)
        img = np.zeros((18, 32, 3), dtype=np.uint8)
        img[:, :16] = rng.integers(0, 40, size=(18, 16, 3))
        img[:, 16:] = rng.integers(200, 256, size=(18, 16, 3))
        return img

    @pytest.mark.parametrize("shift", [2, 3])
    def test_two_group_roundtrip(self, shift):
        img = self._img()
        out = vp8l_decode_array(encode_vp8l(img, meta_shift=shift))
        assert out is not None and (out[3] == img).all()

    def test_meta_with_cache_and_sg(self):
        img = self._img()
        blob = encode_vp8l(img, meta_shift=2, cache_bits=3, subtract_green=True)
        out = vp8l_decode_array(blob)
        assert out is not None and (out[3] == img).all()
        assert webp_supported(blob)


class TestVp8xContainer:
    def test_vp8l_behind_vp8x(self):
        """Extended-format container: the RIFF walk must skip the VP8X
        chunk and find VP8L."""
        plain = encode_vp8l(GRAD)
        # lift the VP8L chunk out of the plain file
        vp8l_chunk = plain[12:]
        vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
        riff = b"WEBP" + vp8x + vp8l_chunk
        blob = b"RIFF" + struct.pack("<I", len(riff)) + riff
        out = vp8l_decode_array(blob)
        assert out is not None and (out[3] == GRAD).all()


class TestMaxSymbol:
    """The optional max_symbol early-termination field in normal-code
    headers (real encoders emit it): the decoder must stop after
    exactly that many code-length reads and default the tail to
    zero."""

    def test_roundtrip(self):
        rng = np.random.default_rng(31)
        img = rng.integers(0, 50, size=(14, 19, 3), dtype=np.uint8)
        out = vp8l_decode_array(encode_vp8l(img, use_max_symbol=True))
        assert out is not None and (out[3] == img).all()

    def test_roundtrip_stacked(self):
        rng = np.random.default_rng(32)
        img = rng.integers(0, 50, size=(14, 19, 3), dtype=np.uint8)
        blob = encode_vp8l(
            img, use_max_symbol=True, cache_bits=3, subtract_green=True
        )
        out = vp8l_decode_array(blob)
        assert out is not None and (out[3] == img).all()
