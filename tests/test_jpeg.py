"""Round-trip tests for the pure-stdlib baseline JPEG decoder.

The encoder below is an INDEPENDENT implementation (own DCT, own
canonical-code assignment, own bit packer, standard Annex K tables) —
the same independent-reference-encoder pattern the PNG/GIF/WAV decoders
are verified with. A bit error on either side breaks the loop."""

import struct

import numpy as np
import pytest

# --- standard Annex K tables -------------------------------------------------

QL = np.array([  # luminance quant (quality 50 base)
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
])
QC = np.array([  # chrominance quant
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
])

# (BITS 1..16, HUFFVAL) — Annex K
DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
        list(range(12)))
DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
        list(range(12)))
AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]


def _codes(bits, vals):
    """Canonical symbol -> (code, length) assignment."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return out


def _dct2(block):
    n = np.arange(8)
    base = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    a = np.full(8, np.sqrt(2.0 / 8.0))
    a[0] = np.sqrt(1.0 / 8.0)
    C = a[:, None] * base
    return C @ block @ C.T


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.put(1, 1)  # pad with 1s


def _cat(v):
    """JPEG magnitude category + appended bits for a signed value."""
    s = 0
    a = abs(v)
    while a:
        s += 1
        a >>= 1
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def _scale_q(q, quality):
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    t = np.floor((q * scale + 50) / 100)
    return np.clip(t, 1, 255).astype(np.int64)


def encode_jpeg(
    img: np.ndarray, quality: int = 90, subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline JPEG encoder: grayscale (h,w) or RGB (h,w,3);
    4:4:4 by default, 4:2:0 with subsample=True (RGB only)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qy = _scale_q(QL, quality)
    qc = _scale_q(QC, quality)

    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
        qts = [qy]
        tids = [0]
    else:
        x = img.astype(np.float64)
        y = 0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]
        cb = -0.168736 * x[:, :, 0] - 0.331264 * x[:, :, 1] + 0.5 * x[:, :, 2] + 128
        cr = 0.5 * x[:, :, 0] - 0.418688 * x[:, :, 1] - 0.081312 * x[:, :, 2] + 128
        if subsample:
            def down(p):
                hh, ww = (h + 1) // 2 * 2, (w + 1) // 2 * 2
                pp = np.pad(p, ((0, hh - h), (0, ww - w)), mode="edge")
                return (pp[0::2, 0::2] + pp[0::2, 1::2]
                        + pp[1::2, 0::2] + pp[1::2, 1::2]) / 4.0
            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qts = [qy, qc, qc]
        tids = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    padded = []
    for p, (hs, vs) in zip(planes, samp):
        ph, pw = mcus_y * vs * 8, mcus_x * hs * 8
        padded.append(np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"))

    dc_tabs = [_codes(*DC_L), _codes(*DC_C)]
    ac_tabs = [_codes(*AC_L), _codes(*AC_C)]

    bw = _BitWriter()
    pred = [0] * len(planes)
    rst = 0
    mcu_count = 0
    chunks = []  # entropy chunks split at restart boundaries

    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                chunks.append(bytes(bw.out))
                chunks.append(bytes([0xFF, 0xD0 + (rst & 7)]))
                rst += 1
                bw = _BitWriter()
                pred = [0] * len(planes)
            for ci, (p, (hs, vs)) in enumerate(zip(padded, samp)):
                ti = tids[ci]
                dct_t, act_t, q = dc_tabs[ti], ac_tabs[ti], qts[ci]
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        blk = p[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        co = np.round(_dct2(blk) / q).astype(np.int64)
                        zz = co.reshape(-1)[ZZ]
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        s, bits = _cat(diff)
                        code, ln = dct_t[s]
                        bw.put(code, ln)
                        if s:
                            bw.put(bits, s)
                        run = 0
                        last = 63
                        while last > 0 and zz[last] == 0:
                            last -= 1
                        for k in range(1, last + 1):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = act_t[0xF0]
                                bw.put(code, ln)
                                run -= 16
                            s, bits = _cat(v)
                            code, ln = act_t[(run << 4) | s]
                            bw.put(code, ln)
                            bw.put(bits, s)
                            run = 0
                        if last < 63:
                            code, ln = act_t[0x00]
                            bw.put(code, ln)
            mcu_count += 1
    bw.flush()
    chunks.append(bytes(bw.out))

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    zz_y = qy.reshape(-1)[ZZ].astype(np.uint8).tobytes()
    out += seg(0xDB, bytes([0x00]) + zz_y)
    if not gray:
        zz_c = qc.reshape(-1)[ZZ].astype(np.uint8).tobytes()
        out += seg(0xDB, bytes([0x01]) + zz_c)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)
    for tc, th, (bits, vals) in (
        [(0, 0, DC_L), (1, 0, AC_L)] if gray
        else [(0, 0, DC_L), (1, 0, AC_L), (0, 1, DC_C), (1, 1, AC_C)]
    ):
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    for c in chunks:
        out += c
    out += b"\xff\xd9"
    return bytes(out)


# --- tests -------------------------------------------------------------------


class TestJpegRoundTrip:
    def test_flat_gray_exact(self):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        img = np.full((16, 24), 130, dtype=np.uint8)
        got = jpeg_decode_array(encode_jpeg(img, quality=90))
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (24, 16, 1)
        # a flat block has one DC coefficient; quantization error <= q/2/8
        assert np.abs(px[:, :, 0].astype(int) - 130).max() <= 2

    def test_smooth_rgb_444(self):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        yy, xx = np.mgrid[0:40, 0:56]
        img = np.stack(
            [
                (xx * 255 / 55),
                (yy * 255 / 39),
                ((xx + yy) * 255 / 94),
            ],
            axis=2,
        ).astype(np.uint8)
        got = jpeg_decode_array(encode_jpeg(img, quality=95))
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (56, 40, 3)
        err = np.abs(px.astype(int) - img.astype(int)).mean()
        assert err < 4.0, f"mean abs error {err}"

    def test_textured_gray_high_quality(self):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        rng = np.random.default_rng(5)
        img = rng.integers(60, 196, size=(24, 24), dtype=np.uint8)
        got = jpeg_decode_array(encode_jpeg(img, quality=98))
        assert got is not None
        _, _, _, px = got
        err = np.abs(px[:, :, 0].astype(int) - img.astype(int)).mean()
        assert err < 6.0, f"mean abs error {err}"

    def test_chroma_420_subsampling(self):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        yy, xx = np.mgrid[0:32, 0:48]
        img = np.stack(
            [(xx * 4) % 256, (yy * 4) % 256, np.full_like(xx, 90)], axis=2
        ).astype(np.uint8)
        # smooth ramps wrap at 256 -> use clipped ramps instead
        img[:, :, 0] = np.clip(xx * 5, 0, 255)
        img[:, :, 1] = np.clip(yy * 6, 0, 255)
        got = jpeg_decode_array(encode_jpeg(img, quality=95, subsample=True))
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (48, 32, 3)
        err = np.abs(px.astype(int) - img.astype(int)).mean()
        assert err < 8.0, f"mean abs error {err}"

    def test_restart_intervals(self):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        yy, xx = np.mgrid[0:24, 0:40]
        img = np.clip(xx * 6 + yy, 0, 255).astype(np.uint8)
        plain = jpeg_decode_array(encode_jpeg(img, quality=95))
        with_rst = jpeg_decode_array(
            encode_jpeg(img, quality=95, restart_interval=2)
        )
        assert plain is not None and with_rst is not None
        assert np.array_equal(plain[3], with_rst[3])

    def test_odd_dimensions_cropped(self):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        img = np.full((13, 19), 200, dtype=np.uint8)
        got = jpeg_decode_array(encode_jpeg(img, quality=90))
        assert got is not None
        w, h, ch, px = got
        assert (w, h) == (19, 13) and px.shape == (13, 19, 1)

    def test_rejects_non_baseline_and_garbage(self):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        assert jpeg_decode_array(b"\xff\xd8\xff garbage") is None
        assert jpeg_decode_array(b"not a jpeg") is None
        # a baseline stream RELABELED as SOF2 is malformed progressive
        # (its SOS claims a full-spectrum interleaved DC scan, illegal
        # under G.1.1.1.1) — must refuse, not mis-decode
        img = np.full((8, 8), 100, dtype=np.uint8)
        blob = bytearray(encode_jpeg(img))
        i = blob.find(b"\xff\xc0")
        blob[i + 1] = 0xC2
        assert jpeg_decode_array(bytes(blob)) is None
        # arithmetic coding (SOF9) genuinely unsupported
        blob[i + 1] = 0xC9
        assert jpeg_decode_array(bytes(blob)) is None

    def test_perceptual_hash_survives_jpeg(self):
        """The point of a REAL decoder: the dHash of a decoded JPEG
        matches the dHash of the source pixels — lossy re-encode does
        not move the perceptual fingerprint."""
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array
        from datamancer_spark.operators.multimodal import dhash64_gray

        yy, xx = np.mgrid[0:48, 0:54]
        img = np.clip(xx * 3 + ((yy // 8) % 2) * 60, 0, 255).astype(np.uint8)
        got = jpeg_decode_array(encode_jpeg(img, quality=92))
        assert got is not None
        decoded = got[3][:, :, 0]
        a = dhash64_gray(img.astype(np.float64))
        b = dhash64_gray(decoded.astype(np.float64))
        assert bin((a ^ b) & (2**64 - 1)).count("1") <= 2


def test_cross_format_perceptual_dedup(spark):
    """The flagship multimodal dedup scenario: the SAME picture stored
    once as PNG and once as lossy JPEG — different formats, completely
    different bytes — pairs up in dhash_pairs, while an unrelated image
    stays unpaired. No codec library involved on either side."""
    from datamancer_spark.operators.multimodal import dhash_pairs
    from tests.test_multimodal import _encode_png, _lzw_encode  # noqa: F401

    yy, xx = np.mgrid[0:48, 0:54]
    img = np.clip(xx * 3 + ((yy // 8) % 2) * 60, 0, 255).astype(np.uint8)
    other = np.clip(255 - xx * 4 + ((xx // 6) % 2) * 40, 0, 255).astype(np.uint8)
    rows = [
        ("pic.png", bytearray(_encode_png(img, 0, [0]))),
        ("pic.jpg", bytearray(encode_jpeg(img, quality=92))),
        ("other.png", bytearray(_encode_png(other, 0, [0]))),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dhash_pairs(df, max_hamming=3).collect()}
    assert ("pic.jpg", "pic.png") in pairs
    assert all("other.png" not in p for p in pairs)


def _encode_avi_mjpeg(jpeg_frames, w, h, fourcc=b"MJPG"):
    """Minimal independent MJPEG-AVI writer: RIFF('AVI ') with a hdrl
    (avih + a vids strl carrying the codec fourcc in strh/strf) and a
    LIST('movi') of 00dc JPEG chunks — enough structure to exercise
    the real container walk."""
    def chunk(cid, payload):
        p = payload + (b"\x00" if len(payload) % 2 else b"")
        return cid + struct.pack("<I", len(payload)) + p

    avih = chunk(b"avih", struct.pack("<14I", 33333, 0, 0, 0, len(jpeg_frames),
                                      0, 1, 0, w, h, 0, 0, 0, 0))
    strh = chunk(b"strh", b"vids" + fourcc + b"\x00" * 48)
    # BITMAPINFOHEADER: biCompression at offset 16
    strf = chunk(b"strf", struct.pack("<III", 40, w, h)
                 + struct.pack("<HH", 1, 24) + fourcc + b"\x00" * 20)
    strl = chunk(b"LIST", b"strl" + strh + strf)
    hdrl = chunk(b"LIST", b"hdrl" + avih + strl)
    movi_payload = b"movi" + b"".join(chunk(b"00dc", f) for f in jpeg_frames)
    movi = chunk(b"LIST", movi_payload)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


class TestMjpegAvi:
    def test_avi_frames_decode_for_real(self):
        from datamancer_spark.operators.multimodal import avi_mjpeg_frames

        frames = []
        for shade in (40, 120, 220):
            img = np.full((16, 16), shade, dtype=np.uint8)
            frames.append(encode_jpeg(img, quality=92))
        blob = _encode_avi_mjpeg(frames, 16, 16)
        out = list(avi_mjpeg_frames(blob))
        assert [f[0] for f in out] == [0, 1, 2]
        for (idx, w, h, rgb), shade in zip(out, (40, 120, 220)):
            assert (w, h) == (16, 16)
            arr = np.frombuffer(rgb, dtype=np.uint8)
            assert abs(int(arr.mean()) - shade) <= 2

    def test_avi_every_n_and_cap(self):
        from datamancer_spark.operators.multimodal import avi_mjpeg_frames

        frames = [encode_jpeg(np.full((8, 8), 10 * i + 5, dtype=np.uint8))
                  for i in range(10)]
        blob = _encode_avi_mjpeg(frames, 8, 8)
        out = list(avi_mjpeg_frames(blob, every_n=3, max_frames=2))
        assert [f[0] for f in out] == [0, 3]

    def test_garbage_avi_yields_nothing(self):
        from datamancer_spark.operators.multimodal import avi_mjpeg_frames

        assert list(avi_mjpeg_frames(b"RIFF\x10\x00\x00\x00AVI garbage")) == []
        assert list(avi_mjpeg_frames(b"not avi")) == []


def test_jpeg_dims_walker_agrees_with_decoder(spark):
    """image_dimensions' stdlib marker walk and the full decoder must
    report identical dimensions for every encoder configuration."""
    from datamancer_spark.operators.multimodal import image_dimensions
    from datamancer_spark.operators.jpegcodec import jpeg_decode_array

    rng = np.random.default_rng(73)
    blobs = []
    for i, (shape, kw) in enumerate([
        ((16, 24), {}),
        ((31, 17), {"quality": 75}),
        ((32, 48, 3), {"subsample": True}),
        ((24, 40), {"restart_interval": 2}),
    ]):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        blobs.append((f"j{i}", bytearray(encode_jpeg(img, **kw)), shape))
    df = spark.createDataFrame(
        [(p, b) for p, b, _ in blobs], "path string, content binary"
    )
    walked = {r["path"]: (r["width"], r["height"])
              for r in image_dimensions(df).collect()}
    for p, b, shape in blobs:
        decoded = jpeg_decode_array(bytes(b))
        assert decoded is not None
        w, h, _, _ = decoded
        assert walked[p] == (w, h) == (shape[1], shape[0]), p


def test_marker_walk_tolerates_fill_bytes_and_stray_rst():
    """Legal 0xFF fill-byte padding between segments (B.1.1.2) and
    stray standalone TEM/RSTn markers before SOS must not make a valid
    baseline JPEG undecodable (r6 advice)."""
    from datamancer_spark.operators.jpegcodec import jpeg_decode_array

    img = np.full((16, 24), 130, dtype=np.uint8)
    blob = encode_jpeg(img, quality=90)
    base = jpeg_decode_array(blob)
    assert base is not None

    # pad the first DHT marker with a fill run, and drop a TEM + RST5
    # standalone pair plus more fill right before SOS
    padded = blob.replace(b"\xff\xc4", b"\xff\xff\xff\xc4", 1)
    padded = padded.replace(b"\xff\xda", b"\xff\x01\xff\xd5\xff\xff\xff\xda", 1)
    assert len(padded) == len(blob) + 8
    got = jpeg_decode_array(padded)
    assert got is not None
    assert got[:3] == base[:3]
    assert np.array_equal(got[3], base[3])


# --- independent progressive (SOF2) encoder ---------------------------------
# Same independence pattern: own scan-script emission, own EOB-run and
# buffered-correction-bit bookkeeping (spec G.2), flat 8-bit AC Huffman
# tables (Annex K has no EOBn>1 symbols) the decoder must rebuild from
# DHT like any other table.

# every (run, size) symbol for progressive AC scans at code length 8
FLAT_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]
FLAT_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]


class _ProgAcFirst:
    """AC first-pass (Ah=0) scan encoder with cross-block EOB runs."""

    def __init__(self, bw, tab, ss, se, al):
        self.bw, self.tab = bw, tab
        self.ss, self.se, self.al = ss, se, al
        self.eobrun = 0

    def flush_eob(self):
        if self.eobrun:
            rr = self.eobrun.bit_length() - 1
            code, ln = self.tab[rr << 4]
            self.bw.put(code, ln)
            if rr:
                self.bw.put(self.eobrun - (1 << rr), rr)
            self.eobrun = 0

    def block(self, zz):
        r = 0
        for k in range(self.ss, self.se + 1):
            v = int(zz[k])
            t = abs(v) >> self.al
            if t == 0:
                r += 1
                continue
            self.flush_eob()
            while r > 15:
                code, ln = self.tab[0xF0]
                self.bw.put(code, ln)
                r -= 16
            s, bits = _cat(t if v > 0 else -t)
            code, ln = self.tab[(r << 4) | s]
            self.bw.put(code, ln)
            self.bw.put(bits, s)
            r = 0
        if r > 0:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eob()

    def reset(self):
        self.eobrun = 0


class _ProgAcRefine:
    """AC refinement (Ah=Al+1) scan encoder: newly-nonzero coefficients
    coded with sign bits, previously-nonzero ones as buffered correction
    bits, EOB runs spanning blocks with their pending bits."""

    def __init__(self, bw, tab, ss, se, al):
        self.bw, self.tab = bw, tab
        self.ss, self.se, self.al = ss, se, al
        self.eobrun = 0
        self.pending = []  # correction bits owed after the next EOBn

    def flush_eob(self):
        if self.eobrun:
            rr = self.eobrun.bit_length() - 1
            code, ln = self.tab[rr << 4]
            self.bw.put(code, ln)
            if rr:
                self.bw.put(self.eobrun - (1 << rr), rr)
            self.eobrun = 0
        for b in self.pending:
            self.bw.put(b, 1)
        self.pending = []

    def block(self, zz):
        ss, se, al = self.ss, self.se, self.al
        absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        eob = ss - 1  # last newly-nonzero position, if any
        for i, t in enumerate(absv):
            if t == 1:
                eob = ss + i
        r = 0
        br = []  # correction bits since the last emitted symbol
        for i, k in enumerate(range(ss, se + 1)):
            t = absv[i]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                self.flush_eob()
                code, ln = self.tab[0xF0]
                self.bw.put(code, ln)
                r -= 16
                for b in br:
                    self.bw.put(b, 1)
                br = []
            if t > 1:  # previously nonzero: next-lower magnitude bit
                br.append(t & 1)
                continue
            # newly nonzero at this precision
            self.flush_eob()
            code, ln = self.tab[(r << 4) | 1]
            self.bw.put(code, ln)
            r = 0
            self.bw.put(1 if int(zz[k]) > 0 else 0, 1)
            for b in br:
                self.bw.put(b, 1)
            br = []
        if r > 0 or br:
            self.eobrun += 1
            self.pending.extend(br)
            if self.eobrun == 0x7FFF:
                self.flush_eob()

    def reset(self):
        # a restart boundary cancels any pending run (it was flushed)
        self.eobrun = 0
        self.pending = []


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 90, subsample: bool = False,
    restart_interval: int = 0, scans=None,
) -> bytes:
    """Minimal progressive JPEG encoder: grayscale (h,w) or RGB (h,w,3);
    spectral selection + successive approximation (default script
    refines DC by 1 bit and luma AC by 2)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qy = _scale_q(QL, quality)
    qc = _scale_q(QC, quality)

    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
        qts = [qy]
    else:
        x = img.astype(np.float64)
        y = 0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]
        cb = (-0.168736 * x[:, :, 0] - 0.331264 * x[:, :, 1]
              + 0.5 * x[:, :, 2] + 128)
        cr = (0.5 * x[:, :, 0] - 0.418688 * x[:, :, 1]
              - 0.081312 * x[:, :, 2] + 128)
        if subsample:
            def down(p):
                hh, ww = (h + 1) // 2 * 2, (w + 1) // 2 * 2
                pp = np.pad(p, ((0, hh - h), (0, ww - w)), mode="edge")
                return (pp[0::2, 0::2] + pp[0::2, 1::2]
                        + pp[1::2, 0::2] + pp[1::2, 1::2]) / 4.0
            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qts = [qy, qc, qc]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    # quantized zigzag coefficient grids, full MCU-padded size
    coefs = []
    dims = []  # (nby_full, nbx_full, nbh_data, nbw_data, hs, vs)
    for p, (hs, vs), q in zip(planes, samp, qts):
        nby, nbx = mcus_y * vs, mcus_x * hs
        pp = np.pad(
            p,
            ((0, nby * 8 - p.shape[0]), (0, nbx * 8 - p.shape[1])),
            mode="edge",
        )
        cz = np.zeros((nby, nbx, 64), dtype=np.int64)
        for byi in range(nby):
            for bxi in range(nbx):
                blk = pp[byi * 8 : byi * 8 + 8, bxi * 8 : bxi * 8 + 8] - 128.0
                co = np.round(_dct2(blk) / q).astype(np.int64)
                cz[byi, bxi] = co.reshape(-1)[ZZ]
        coefs.append(cz)
        ch, cw = -(-h * vs // vmax), -(-w * hs // hmax)
        dims.append((nby, nbx, -(-ch // 8), -(-cw // 8), hs, vs))

    ncomp = 1 if gray else 3
    if scans is None:
        if gray:
            scans = [
                ([0], 0, 0, 0, 1),
                ([0], 1, 5, 0, 2), ([0], 6, 63, 0, 2),
                ([0], 1, 63, 2, 1), ([0], 1, 63, 1, 0),
                ([0], 0, 0, 1, 0),
            ]
        else:
            scans = [
                ([0, 1, 2], 0, 0, 0, 1),
                ([0], 1, 5, 0, 2),
                ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),
                ([0], 6, 63, 0, 2),
                ([0], 1, 63, 2, 1), ([0], 1, 63, 1, 0),
                ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0),
                ([0, 1, 2], 0, 0, 1, 0),
            ]

    dc_tabs = [_codes(*DC_L), _codes(*DC_C)]
    ac_tab = _codes(FLAT_AC_BITS, FLAT_AC_VALS)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + qy.reshape(-1)[ZZ].astype(np.uint8).tobytes())
    if not gray:
        out += seg(0xDB, bytes([0x01]) + qc.reshape(-1)[ZZ].astype(np.uint8).tobytes())
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += seg(0xC2, sof)  # SOF2: progressive
    for tc, th, (bits, vals) in (
        [(0, 0, DC_L), (1, 0, (FLAT_AC_BITS, FLAT_AC_VALS))] if gray
        else [(0, 0, DC_L), (0, 1, DC_C),
              (1, 0, (FLAT_AC_BITS, FLAT_AC_VALS))]
    ):
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    for (cis, ss, se, ah, al) in scans:
        sos = bytes([len(cis)])
        for ci in cis:
            td = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (td << 4) | 0])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)

        bw = _BitWriter()
        rst = [0]

        def emit_restart(encs, preds):
            for e in encs:
                if e is not None:
                    e.flush_eob()
                    e.reset()
            bw.flush()
            out.extend(bw.out)
            del bw.out[:]
            out.extend(bytes([0xFF, 0xD0 + (rst[0] & 7)]))
            rst[0] += 1
            for i in range(len(preds)):
                preds[i] = 0

        if ss == 0:  # DC scan
            preds = [0] * len(cis)
            count = 0
            if len(cis) > 1:  # interleaved MCU order
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        if (restart_interval and count
                                and count % restart_interval == 0):
                            emit_restart([], preds)
                        for si, ci in enumerate(cis):
                            _nby, _nbx, _nh, _nw, hs, vs = dims[ci]
                            for by in range(vs):
                                for bx in range(hs):
                                    zz0 = int(coefs[ci][my * vs + by,
                                                        mx * hs + bx, 0])
                                    if ah == 0:
                                        d = (zz0 >> al) - preds[si]
                                        preds[si] = zz0 >> al
                                        s, bits = _cat(d)
                                        code, ln = dc_tabs[0 if ci == 0 else 1][s]
                                        bw.put(code, ln)
                                        if s:
                                            bw.put(bits, s)
                                    else:
                                        bw.put((zz0 >> al) & 1, 1)
                        count += 1
            else:  # single component: non-interleaved block raster
                ci = cis[0]
                _nby, _nbx, nh, nw, _hs, _vs = dims[ci]
                for by in range(nh):
                    for bx in range(nw):
                        if (restart_interval and count
                                and count % restart_interval == 0):
                            emit_restart([], preds)
                        zz0 = int(coefs[ci][by, bx, 0])
                        if ah == 0:
                            d = (zz0 >> al) - preds[0]
                            preds[0] = zz0 >> al
                            s, bits = _cat(d)
                            code, ln = dc_tabs[0 if ci == 0 else 1][s]
                            bw.put(code, ln)
                            if s:
                                bw.put(bits, s)
                        else:
                            bw.put((zz0 >> al) & 1, 1)
                        count += 1
        else:  # AC scan: single component, data-block raster
            ci = cis[0]
            _nby, _nbx, nh, nw, _hs, _vs = dims[ci]
            enc = (_ProgAcFirst if ah == 0 else _ProgAcRefine)(
                bw, ac_tab, ss, se, al
            )
            count = 0
            for by in range(nh):
                for bx in range(nw):
                    if (restart_interval and count
                            and count % restart_interval == 0):
                        emit_restart([enc], [])
                    enc.block(coefs[ci][by, bx])
                    count += 1
            enc.flush_eob()
        bw.flush()
        out.extend(bw.out)
    out += b"\xff\xd9"
    return bytes(out)


class TestProgressiveRoundTrip:
    """Progressive (SOF2) decode vs the independent progressive encoder.
    The default scan script delivers every coefficient bit, so the
    decoded pixels must EXACTLY equal the baseline decode of the same
    image at the same quality (identical quantized coefficients)."""

    @staticmethod
    def _both(img, **kw):
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        base = jpeg_decode_array(encode_jpeg(img, quality=kw.get("quality", 90),
                                             subsample=kw.get("subsample", False)))
        prog = jpeg_decode_array(encode_jpeg_progressive(img, **kw))
        assert base is not None and prog is not None
        return base, prog

    def test_gray_exact_match_with_baseline(self):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
        base, prog = self._both(img)
        assert prog[:3] == base[:3]
        assert np.array_equal(prog[3], base[3])

    def test_rgb_444_exact(self):
        yy, xx = np.mgrid[0:40, 0:56]
        img = np.stack(
            [(xx * 255 / 55), (yy * 255 / 39), ((xx + yy) * 255 / 94)],
            axis=2,
        ).astype(np.uint8)
        base, prog = self._both(img)
        assert prog[:3] == base[:3]
        assert np.array_equal(prog[3], base[3])

    def test_rgb_420_odd_dims_exact(self):
        """4:2:0 with non-multiple-of-16 dims: luma data blocks exceed
        half-res chroma blocks and the MCU grid is padded — the
        non-interleaved AC scans must walk DATA blocks only."""
        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(35, 45, 3), dtype=np.uint8)
        base, prog = self._both(img, subsample=True)
        assert prog[:3] == base[:3]
        assert np.array_equal(prog[3], base[3])

    def test_restart_markers_in_progressive_scans(self):
        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, size=(40, 64), dtype=np.uint8)
        base, prog = self._both(img, restart_interval=3)
        assert np.array_equal(prog[3], base[3])

    def test_truncated_scan_script_still_decodes(self):
        """A progressive file delivering only the first scans (coarse
        bits) is VALID — decode yields an approximation, not None."""
        from datamancer_spark.operators.jpegcodec import jpeg_decode_array

        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
        blob = encode_jpeg_progressive(
            img,
            scans=[([0], 0, 0, 0, 1), ([0], 1, 63, 0, 2)],
        )
        got = jpeg_decode_array(blob)
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (24, 24, 1)
        # coarse bits only: close-ish, definitely not garbage
        err = np.abs(px[:, :, 0].astype(int) - img.astype(int)).mean()
        assert err < 48

    def test_flat_image_eob_runs_span_blocks(self):
        """A flat image's AC scans are one long EOB run across every
        block — the cross-block EOBRUN path on both sides."""
        img = np.full((32, 48), 77, dtype=np.uint8)
        base, prog = self._both(img)
        assert np.array_equal(prog[3], base[3])
        assert np.abs(prog[3][:, :, 0].astype(int) - 77).max() <= 2


def test_avi_video_fourcc_walk():
    """Codec fourcc comes from the real strh/strf walk, not a byte
    sniff: MJPG AVIs screen, H264-in-AVI is metadata-only."""
    from datamancer_spark.operators.multimodal import (
        _classify_decode_tier,
        avi_video_fourcc,
    )

    img = np.full((8, 8), 90, dtype=np.uint8)
    frame = encode_jpeg(img)
    mjpg = _encode_avi_mjpeg([frame], 8, 8)
    h264 = _encode_avi_mjpeg([frame], 8, 8, fourcc=b"H264")
    assert avi_video_fourcc(mjpg) == "MJPG"
    assert avi_video_fourcc(h264) == "H264"
    assert _classify_decode_tier(mjpg) == ("avi", True)
    assert _classify_decode_tier(h264) == ("avi", False)
    assert avi_video_fourcc(b"RIFF\x08\x00\x00\x00AVI ") is None


def test_progressive_random_scan_scripts_property():
    """Property: ANY legal scan script (random spectral-band partition
    of 1..63, random successive-approximation chains for DC and per-band
    AC) that delivers every coefficient bit must reproduce the baseline
    decode EXACTLY. Randomized over sizes, gray/RGB, and subsampling."""
    from datamancer_spark.operators.jpegcodec import jpeg_decode_array

    rng = np.random.default_rng(123)
    for trial in range(12):
        h = int(rng.integers(8, 41))
        w = int(rng.integers(8, 41))
        gray = bool(rng.integers(0, 2))
        sub = (not gray) and bool(rng.integers(0, 2))
        if gray:
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            comps = [0]
        else:
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            comps = [0, 1, 2]

        # random band partition of 1..63
        nsplit = int(rng.integers(0, 4))
        splits = sorted(set(rng.integers(2, 63, size=nsplit).tolist()))
        bounds = [1] + splits + [64]
        bands = [(bounds[i], bounds[i + 1] - 1)
                 for i in range(len(bounds) - 1)]

        def al_chain():
            top = int(rng.integers(0, 3))
            return list(range(top, -1, -1))

        scans = []
        dc_chain = al_chain()
        scans.append((comps, 0, 0, 0, dc_chain[0]))
        for prev, al in zip(dc_chain, dc_chain[1:]):
            scans.append((comps, 0, 0, prev, al))
        for c in comps:
            for (ss, se) in bands:
                chain = al_chain()
                scans.append(([c], ss, se, 0, chain[0]))
                for prev, al in zip(chain, chain[1:]):
                    scans.append(([c], ss, se, prev, al))

        base = jpeg_decode_array(
            encode_jpeg(img, quality=85, subsample=sub)
        )
        prog = jpeg_decode_array(
            encode_jpeg_progressive(img, quality=85, subsample=sub,
                                    scans=scans)
        )
        assert base is not None and prog is not None, (trial, scans)
        assert prog[:3] == base[:3], (trial, scans)
        assert np.array_equal(prog[3], base[3]), (trial, scans)


def _with_exif_orientation(jpeg_blob, orient, byte_order=b"II"):
    """Splice a minimal APP1 Exif segment (TIFF IFD0 with just tag
    0x0112) right after SOI."""
    if byte_order == b"II":
        tiff = (b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
                + struct.pack("<H", 1)
                + struct.pack("<HHI", 0x0112, 3, 1)
                + struct.pack("<HH", orient, 0)
                + struct.pack("<I", 0))
    else:
        tiff = (b"MM" + struct.pack(">H", 42) + struct.pack(">I", 8)
                + struct.pack(">H", 1)
                + struct.pack(">HHI", 0x0112, 3, 1)
                + struct.pack(">HH", orient, 0)
                + struct.pack(">I", 0))
    payload = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return jpeg_blob[:2] + app1 + jpeg_blob[2:]


class TestExifOrientation:
    @pytest.mark.parametrize("bo", [b"II", b"MM"])
    def test_orientation_parses_both_byte_orders(self, bo):
        from datamancer_spark.operators.multimodal import (
            jpeg_exif_orientation,
        )

        img = np.full((8, 8), 80, dtype=np.uint8)
        blob = _with_exif_orientation(encode_jpeg(img), 6, bo)
        assert jpeg_exif_orientation(blob) == 6
        assert jpeg_exif_orientation(encode_jpeg(img)) is None

    @pytest.mark.parametrize("orient", [2, 3, 4, 5, 6, 7, 8])
    def test_camera_rotated_photo_hashes_upright(self, orient):
        """A photo stored rotated/flipped with the matching EXIF tag
        must produce (nearly) the upright photo's dHash — without the
        tag the transforms land tens of bits apart."""
        from datamancer_spark.operators.multimodal import (
            _apply_exif_orientation,
            _decode_gray,
            dhash64_gray,
        )

        rng = np.random.default_rng(orient)
        upright = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)

        # stored = inverse transform of upright: applying the
        # orientation transform to it must reproduce upright. All the
        # EXIF transforms are involutions or 90-degree rotations:
        inverse = {2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}
        stored = _apply_exif_orientation(upright, inverse[orient])
        blob = _with_exif_orientation(
            encode_jpeg(np.ascontiguousarray(stored), quality=95), orient
        )
        base = dhash64_gray(
            _decode_gray(encode_jpeg(upright, quality=95))
        )
        got = dhash64_gray(_decode_gray(blob))
        ham = bin((got % (1 << 64)) ^ (base % (1 << 64))).count("1")
        assert ham <= 3, (orient, ham)

        # control: ignoring the tag would leave the hashes far apart
        naive = dhash64_gray(
            _decode_gray(encode_jpeg(np.ascontiguousarray(stored),
                                     quality=95))
        )
        ham_naive = bin((naive % (1 << 64)) ^ (base % (1 << 64))).count("1")
        assert ham_naive > 10, (orient, ham_naive)


def test_fill_bytes_before_restart_marker():
    """0xFF fill padding immediately before an RSTn inside the entropy
    stream must not abort the decode (review finding: the latched-0xFF
    branch hard-failed instead of scanning forward)."""
    img = np.arange(40 * 64, dtype=np.uint8).reshape(40, 64) % 251
    blob = encode_jpeg(img, quality=90, restart_interval=2)
    base = jpeg_base = None
    from datamancer_spark.operators.jpegcodec import jpeg_decode_array

    base = jpeg_decode_array(blob)
    assert base is not None
    # splice a fill byte before the first RST marker
    for rst in range(0xD0, 0xD8):
        i = blob.find(bytes([0xFF, rst]))
        if i != -1:
            padded = blob[:i] + b"\xff" + blob[i:]
            break
    else:
        raise AssertionError("no RST marker found")
    got = jpeg_decode_array(padded)
    assert got is not None
    assert np.array_equal(got[3], base[3])
