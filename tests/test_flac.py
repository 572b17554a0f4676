"""Round-trip tests for the pure-stdlib FLAC decoder.

The encoder below is an INDEPENDENT implementation (own bit packer, own
Rice coder, own fixed/LPC predictors and channel decorrelation) — the
same independent-reference-encoder pattern the PNG/JPEG/GIF/WAV/ADPCM
decoders are verified with. FLAC is lossless, so every round trip must
be INTEGER-EXACT."""

import numpy as np
import pytest


class _BitW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, v, bits):
        for i in range(bits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.n = 0

    def put_signed(self, v, bits):
        self.put(v & ((1 << bits) - 1), bits)

    def put_unary(self, q):
        for _ in range(q):
            self.put(0, 1)
        self.put(1, 1)

    def align(self):
        while self.n:
            self.put(0, 1)


def _rice(bw: _BitW, residuals, param):
    for v in residuals:
        u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
        # zigzag: non-negative -> 2v, negative -> -2v-1
        u = (2 * v) if v >= 0 else (-2 * v - 1)
        bw.put_unary(u >> param)
        if param:
            bw.put(u & ((1 << param) - 1), param)


def _utf8_number(n):
    assert n < 0x80  # tests keep frame numbers single-byte
    return bytes([n])


_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _encode_subframe(bw, samples, bps, mode, rice_param=4, porder=0,
                     lpc=None, wasted=0):
    """mode: 'constant' | 'verbatim' | int fixed order | 'lpc'."""
    bw.put(0, 1)  # pad
    n = len(samples)
    if wasted:
        assert all(s % (1 << wasted) == 0 for s in samples)
        samples = [s >> wasted for s in samples]
    eff = bps - wasted

    def wasted_bits():
        if wasted:
            bw.put(1, 1)
            bw.put_unary(wasted - 1)
        else:
            bw.put(0, 1)

    def residual(res, order):
        bw.put(0, 2)  # 4-bit Rice method
        bw.put(porder, 4)
        nparts = 1 << porder
        assert n % nparts == 0
        idx = 0
        for p in range(nparts):
            cnt = (n >> porder) - (order if p == 0 else 0)
            bw.put(rice_param, 4)
            _rice(bw, res[idx : idx + cnt], rice_param)
            idx += cnt

    if mode == "constant":
        assert all(s == samples[0] for s in samples)
        bw.put(0, 6)
        wasted_bits()
        bw.put_signed(samples[0], eff)
    elif mode == "verbatim":
        bw.put(1, 6)
        wasted_bits()
        for s in samples:
            bw.put_signed(s, eff)
    elif mode == "lpc":
        coefs, shift, prec = lpc
        order = len(coefs)
        bw.put(32 + order - 1, 6)
        wasted_bits()
        for s in samples[:order]:
            bw.put_signed(s, eff)
        bw.put(prec - 1, 4)
        bw.put_signed(shift, 5)
        for c in coefs:
            bw.put_signed(c, prec)
        res = []
        for i in range(order, n):
            acc = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            res.append(samples[i] - (acc >> shift))
        residual(res, order)
    else:  # fixed order
        order = mode
        bw.put(8 + order, 6)
        wasted_bits()
        for s in samples[:order]:
            bw.put_signed(s, eff)
        coefs = _FIXED[order]
        res = []
        for i in range(order, n):
            pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            res.append(samples[i] - pred)
        residual(res, order)


def encode_flac(channels, rate=8000, bps=16, blocksize=256,
                subframe_plan=None, ch_mode="independent",
                rice_param=4, porder=0, lpc=None, wasted=0):
    """Minimal FLAC encoder: list of equal-length int sample lists (1
    or 2 channels), fixed blocksize (last frame may be short).
    subframe_plan: per-frame mode (cycled); ch_mode: 'independent' |
    'left_side' | 'right_side' | 'mid_side'."""
    import struct

    nch = len(channels)
    n = len(channels[0])
    plan = subframe_plan or [2]
    out = bytearray(b"fLaC")
    # STREAMINFO (type 0, last-block flag, 34 bytes)
    info = bytearray()
    info += struct.pack(">HH", blocksize, blocksize)
    info += b"\x00\x00\x00" * 2  # min/max frame size unknown
    packed = (rate << 44) | ((nch - 1) << 41) | ((bps - 1) << 36) | n
    info += packed.to_bytes(8, "big")
    info += b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)

    ch_codes = {"independent": nch - 1, "left_side": 8,
                "right_side": 9, "mid_side": 10}
    fno = 0
    for start in range(0, n, blocksize):
        blk = [c[start : start + blocksize] for c in channels]
        bs = len(blk[0])
        bw = _BitW()
        bw.put(0x3FFE, 14)
        bw.put(0, 1)  # reserved
        bw.put(0, 1)  # fixed blocksize strategy
        bw.put(7, 4)  # blocksize: 16-bit value follows
        bw.put(0, 4)  # sample rate: from STREAMINFO
        bw.put(ch_codes[ch_mode], 4)
        bw.put({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps], 3)
        bw.put(0, 1)  # reserved
        for b in _utf8_number(fno):
            bw.put(b, 8)
        bw.put(bs - 1, 16)
        bw.put(0, 8)  # header CRC-8: zeros (decoder does not validate)

        mode = plan[fno % len(plan)]
        if ch_mode == "independent":
            for c in range(nch):
                _encode_subframe(bw, blk[c], bps, mode,
                                 rice_param=rice_param, porder=porder,
                                 lpc=lpc, wasted=wasted)
        else:
            left, right = blk[0], blk[1]
            side = [a - b for a, b in zip(left, right)]
            if ch_mode == "left_side":
                pairs = [(left, bps), (side, bps + 1)]
            elif ch_mode == "right_side":
                pairs = [(side, bps + 1), (right, bps)]
            else:
                mid = [(a + b) >> 1 for a, b in zip(left, right)]
                pairs = [(mid, bps), (side, bps + 1)]
            for samples, b_ in pairs:
                _encode_subframe(bw, samples, b_, mode,
                                 rice_param=rice_param, porder=porder,
                                 lpc=lpc, wasted=wasted)
        bw.align()
        bw.put(0, 16)  # frame CRC-16: zeros (not validated)
        out += bytes(bw.out)
        fno += 1
    return bytes(out)


def _decode(blob):
    from datamancer_spark.operators.flaccodec import flac_decode_channels

    return flac_decode_channels(blob)


class TestFlacRoundTrip:
    def test_fixed_orders_mono_exact(self):
        rng = np.random.default_rng(3)
        t = np.arange(1024) / 8000.0
        sig = (np.sin(2 * np.pi * 220 * t) * 12000
               + rng.normal(0, 40, 1024)).astype(np.int64)
        for order in (0, 1, 2, 3, 4):
            blob = encode_flac([list(sig)], subframe_plan=[order])
            got = _decode(blob)
            assert got is not None, f"order {order}"
            rate, bps, chans = got
            assert (rate, bps, len(chans)) == (8000, 16, 1)
            assert np.array_equal(chans[0], sig), f"order {order}"

    def test_constant_verbatim_and_wasted_bits(self):
        const = [-137] * 512
        blob = encode_flac([const], subframe_plan=["constant"])
        got = _decode(blob)
        assert got is not None and np.array_equal(got[2][0], const)

        rng = np.random.default_rng(5)
        noise = list(rng.integers(-30000, 30000, 512))
        blob = encode_flac([noise], subframe_plan=["verbatim"])
        got = _decode(blob)
        assert got is not None and np.array_equal(got[2][0], noise)

        # wasted bits: every sample divisible by 4, subframe packs
        # them 2 bits narrower with the wasted-bits unary marker
        shifted = [int(v) << 2 for v in rng.integers(-2000, 2000, 256)]
        bw_blob = encode_flac([shifted], blocksize=256,
                              subframe_plan=[2], wasted=2)
        got = _decode(bw_blob)
        assert got is not None and np.array_equal(got[2][0], shifted)

    def test_lpc_exact(self):
        """Quantized-coefficient LPC: a near-sine predicts well with a
        2-tap filter ~ [2cos(w)<<shift, -1<<shift]."""
        t = np.arange(512) / 8000.0
        sig = (np.sin(2 * np.pi * 440 * t) * 9000).astype(np.int64)
        w = 2 * np.pi * 440 / 8000.0
        shift = 10
        coefs = [int(round(2 * np.cos(w) * (1 << shift))), -(1 << shift)]
        blob = encode_flac(
            [list(sig)], subframe_plan=["lpc"],
            lpc=(coefs, shift, 14), rice_param=3,
        )
        got = _decode(blob)
        assert got is not None
        assert np.array_equal(got[2][0], sig)

    def test_rice_partitions(self):
        rng = np.random.default_rng(9)
        sig = list(rng.integers(-500, 500, 1024))
        for porder in (0, 1, 2):
            blob = encode_flac([sig], subframe_plan=[1], porder=porder)
            got = _decode(blob)
            assert got is not None, f"porder {porder}"
            assert np.array_equal(got[2][0], sig)

    @pytest.mark.parametrize(
        "mode", ["independent", "left_side", "right_side", "mid_side"]
    )
    def test_stereo_channel_modes_exact(self, mode):
        rng = np.random.default_rng(11)
        t = np.arange(768) / 8000.0
        left = (np.sin(2 * np.pi * 220 * t) * 11000).astype(np.int64)
        right = (np.sin(2 * np.pi * 330 * t) * 7000
                 + rng.normal(0, 25, 768)).astype(np.int64)
        blob = encode_flac([list(left), list(right)], ch_mode=mode,
                           subframe_plan=[2], blocksize=256)
        got = _decode(blob)
        assert got is not None, mode
        rate, bps, chans = got
        assert len(chans) == 2
        assert np.array_equal(chans[0], left), mode
        assert np.array_equal(chans[1], right), mode

    def test_garbage_and_metadata_only_refused(self):
        assert _decode(b"not flac") is None
        assert _decode(b"fLaC") is None
        # STREAMINFO but zero frames
        blob = encode_flac([[0] * 64], blocksize=64)
        head = blob[: blob.index(b"\xff", 4)]  # cut before first frame
        assert _decode(head) is None

    def test_trailing_garbage_tolerated(self):
        sig = list(np.arange(256, dtype=np.int64) * 7 % 1000)
        blob = encode_flac([sig], blocksize=256) + b"junk trailing bytes"
        got = _decode(blob)
        assert got is not None and np.array_equal(got[2][0], sig)


def test_flac_decode_array_contract():
    """wav_decode_array-compatible wrapper: mono float in [-1, 1]."""
    from datamancer_spark.operators.flaccodec import flac_decode_array

    t = np.arange(800) / 8000.0
    left = (np.sin(2 * np.pi * 100 * t) * 16000).astype(np.int64)
    right = (np.cos(2 * np.pi * 100 * t) * 16000).astype(np.int64)
    blob = encode_flac([list(left), list(right)], ch_mode="mid_side",
                       blocksize=400)
    got = flac_decode_array(blob)
    assert got is not None
    rate, mono = got
    assert rate == 8000
    want = (left + right) / 2.0 / 32768.0
    assert np.allclose(mono, want, atol=1e-9)


def test_cross_codec_wav_flac_perceptual_pairing(spark):
    """The same clip shipped as PCM WAV and as FLAC must pair in
    dhash_pairs(kind="audio") (hamming <= 1) — FLAC is lossless so the
    envelopes are identical; an unrelated clip must not pair."""
    import struct

    from datamancer_spark.operators.multimodal import dhash_pairs

    rate = 8000
    t = np.arange(rate) / rate
    clip = (np.sin(2 * np.pi * 220 * t)
            * np.abs(np.sin(2 * np.pi * 3 * t)) * 16000).astype(np.int64)
    other = (np.sin(2 * np.pi * 700 * t)
             * np.abs(np.cos(2 * np.pi * 11 * t + 1)) * 14000).astype(np.int64)

    def wav_pcm16(sig):
        data = sig.astype(np.int16).tobytes()
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                        rate * 2, 2, 16)
                + b"data" + struct.pack("<I", len(data)) + data)

    rows = [
        ("clip.wav", bytearray(wav_pcm16(clip))),
        ("clip.flac", bytearray(encode_flac([list(clip)], rate=rate))),
        ("other.flac", bytearray(encode_flac([list(other)], rate=rate))),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_pairs(df, max_hamming=1, kind="audio").collect()
    }
    assert ("clip.flac", "clip.wav") in pairs
    assert all("other.flac" not in p for p in pairs)


def test_decoders_never_throw_on_mutations():
    """Robustness contract shared by every decoder here: arbitrary
    corruption (bit flips, truncation, random bytes) must yield None or
    a decode — NEVER an exception. One malformed blob must not kill a
    100 TB job."""
    from datamancer_spark.operators.flaccodec import flac_decode_array
    from datamancer_spark.operators.jpegcodec import jpeg_decode_array
    from datamancer_spark.operators.multimodal import (
        audio_decode_array,
        avi_video_fourcc,
        png_decode_array,
    )
    from tests.test_jpeg import encode_jpeg, encode_jpeg_progressive

    rng = np.random.default_rng(99)
    sig = list((np.sin(np.arange(512) / 7.0) * 9000).astype(np.int64))
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    from tests.test_multimodal import TestAiff

    seeds = [
        encode_flac([sig]),
        encode_jpeg(img),
        encode_jpeg_progressive(img),
        TestAiff._aiff(sig[:256], 8000),
        bytes(rng.integers(0, 256, 300, dtype=np.uint8)),
    ]
    from datamancer_spark.operators.multimodal import aiff_decode_array

    decoders = (flac_decode_array, jpeg_decode_array, audio_decode_array,
                aiff_decode_array, png_decode_array, avi_video_fourcc)
    for blob in seeds:
        for _ in range(40):
            b = bytearray(blob)
            k = rng.integers(1, 6)
            for _ in range(k):
                b[rng.integers(0, len(b))] = rng.integers(0, 256)
            if rng.integers(0, 2):
                b = b[: rng.integers(1, len(b) + 1)]
            for dec in decoders:
                dec(bytes(b))  # must not raise


def test_flac_random_streams_property():
    """Property: random signals x random subframe modes x random
    blocksizes x partition orders x stereo modes round-trip
    INTEGER-EXACT (lossless or bust)."""
    rng = np.random.default_rng(321)
    modes = [0, 1, 2, 3, 4, "verbatim", "constant"]
    for trial in range(12):
        blocksize = int(rng.choice([64, 128, 192, 256]))
        nblocks = int(rng.integers(1, 4))
        n = blocksize * nblocks
        stereo = bool(rng.integers(0, 2))
        mode = modes[int(rng.integers(0, len(modes)))]
        porder = int(rng.integers(0, 3)) if mode not in ("constant",) else 0
        if mode == "constant":
            mk = lambda: [int(rng.integers(-20000, 20000))] * n
        else:
            amp = int(rng.integers(100, 16000))
            mk = lambda: list(
                (np.sin(np.arange(n) / rng.uniform(3, 40)) * amp
                 + rng.normal(0, amp / 50, n)).astype(np.int64)
            )
        chans = [mk(), mk()] if stereo else [mk()]
        ch_mode = (
            ["independent", "left_side", "right_side", "mid_side"][
                int(rng.integers(0, 4))
            ]
            if stereo
            else "independent"
        )
        blob = encode_flac(chans, blocksize=blocksize,
                           subframe_plan=[mode], ch_mode=ch_mode,
                           porder=porder,
                           rice_param=int(rng.integers(2, 9)))
        got = _decode(blob)
        assert got is not None, (trial, mode, ch_mode, porder)
        for c, orig in zip(got[2], chans):
            assert np.array_equal(c, orig), (trial, mode, ch_mode, porder)
