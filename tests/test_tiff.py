"""Baseline TIFF decode tier (operators/tiffcodec.py).

Round-trip verification against the INDEPENDENT writer below (own IFD
serialization, own PackBits packer, own LZW compressor with the
early-change width bump — never the decoder's code paths)."""

import struct

import numpy as np
import pytest

from datamancer_spark.operators.tiffcodec import tiff_decode_array


# -- independent test-side writer ---------------------------------------------


def _pack_bits_compress(row: bytes) -> bytes:
    """Simple spec-correct PackBits: repeat runs >= 3 become counted
    repeats, everything else literal runs (<= 128 each)."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and (len(row) - i) > 0:
            run = 1
            while i + run < n and run < 3 and row[i + run] == row[i]:
                run += 1
            if run >= 3 or i - lit_start >= 128:
                break
            i += 1
        chunk = row[lit_start : min(i, lit_start + 128)]
        i = lit_start + len(chunk)
        out += bytes([len(chunk) - 1]) + chunk
    return bytes(out)


class _LzwW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, width: int):
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8

    def done(self) -> bytes:
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(self.out)


def _lzw_compress(data: bytes) -> bytes:
    """TIFF LZW with EARLY CHANGE: the code width bumps as soon as the
    next code to be assigned reaches 2^width - 1."""
    w = _LzwW()
    width = 9
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    w.put(256, width)  # Clear
    cur = b""
    for byte in data:
        cand = cur + bytes([byte])
        if cand in table:
            cur = cand
            continue
        w.put(table[cur], width)
        if next_code < 4094:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        else:
            # table full: emit a mid-stream Clear and start over
            w.put(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([byte])
    if cur:
        w.put(table[cur], width)
    w.put(257, width)  # EOI
    return w.done()


def encode_tiff(px, photometric=None, compression=1, rows_per_strip=None,
                big_endian=False, predictor=1, palette=None,
                bits=8, extra_tags=()):
    """Minimal TIFF writer: uint8 (h, w) gray / (h, w, 3) RGB /
    (h, w) palette indices with ``palette`` (list of 256 RGB tuples)."""
    bo = ">" if big_endian else "<"
    a = np.asarray(px, dtype=np.uint8)
    gray = a.ndim == 2
    h, wd = a.shape[:2]
    spp = 1 if gray else a.shape[2]
    if photometric is None:
        photometric = 3 if palette is not None else (1 if gray else 2)
    rps = rows_per_strip or h
    plane = a.reshape(h, wd, spp)
    strips = []
    for y0 in range(0, h, rps):
        rows = plane[y0 : y0 + rps]
        if predictor == 2:
            d = rows.astype(np.int16)
            d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
            rows = (d % 256).astype(np.uint8)
        raw = rows.tobytes()
        if compression == 32773:
            raw = b"".join(
                _pack_bits_compress(rows[y].tobytes())
                for y in range(rows.shape[0])
            )
        elif compression == 5:
            raw = _lzw_compress(raw)
        strips.append(raw)

    entries = []  # (tag, type, count, values)
    entries.append((256, 3, 1, [wd]))
    entries.append((257, 3, 1, [h]))
    entries.append((258, 3, spp, [bits] * spp))
    entries.append((259, 3, 1, [compression]))
    entries.append((262, 3, 1, [photometric]))
    entries.append((277, 3, 1, [spp]))
    entries.append((278, 3, 1, [rps]))
    if predictor != 1:
        entries.append((317, 3, 1, [predictor]))
    for t in extra_tags:
        entries.append(t)

    # layout: header(8) + IFD + overflow values + colormap + strips
    n_base = len(entries) + 2  # + StripOffsets + StripByteCounts
    if palette is not None:
        n_base += 1
    ifd_size = 2 + 12 * n_base + 4
    over = bytearray()
    over_base = 8 + ifd_size

    def val_bytes(typ, vals):
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        return struct.pack(bo + fmt * len(vals), *vals)

    fixed = []
    for tag, typ, cnt, vals in entries:
        raw = val_bytes(typ, vals)
        fixed.append((tag, typ, cnt, raw))
    # colormap
    if palette is not None:
        cmap = []
        for c in range(3):
            cmap += [int(palette[i][c]) << 8 for i in range(256)]
        fixed.append((320, 3, 768, val_bytes(3, cmap)))
    # strip tables (patched after computing strip offsets)
    data_guess = over_base
    for _tag, _typ, _cnt, raw in fixed:
        if len(raw) > 4:
            data_guess += len(raw)
    cnts = [len(s) for s in strips]
    n_str = len(strips)
    str_tbl_sz = 0 if n_str == 1 else 2 * (4 * n_str)
    strip0 = data_guess + str_tbl_sz
    offs = []
    p = strip0
    for c in cnts:
        offs.append(p)
        p += c
    fixed.append((273, 4, n_str, val_bytes(4, offs)))
    fixed.append((279, 4, n_str, val_bytes(4, cnts)))
    fixed.sort(key=lambda e: e[0])

    ifd = struct.pack(bo + "H", len(fixed))
    for tag, typ, cnt, raw in fixed:
        if len(raw) <= 4:
            ifd += struct.pack(bo + "HHI", tag, typ, cnt) + raw.ljust(
                4, b"\x00"
            )
        else:
            ifd += struct.pack(bo + "HHII", tag, typ, cnt, over_base + len(over))
            over += raw
    ifd += struct.pack(bo + "I", 0)  # next IFD
    hdr = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(bo + "I", 8)
    return hdr + ifd + bytes(over) + b"".join(strips)


# -- tests ---------------------------------------------------------------------


def _img_rgb(h=13, w=17, seed=3):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 100 + 60 * np.sin(xx / 3.0) + 40 * np.cos(yy / 2.0)
    return np.clip(
        np.stack([base + 20 * c for c in range(3)], axis=2)
        + rng.integers(0, 8, size=(h, w, 3)),
        0,
        255,
    ).astype(np.uint8)


class TestTiffRoundTrip:
    @pytest.mark.parametrize("comp", [1, 32773, 5])
    @pytest.mark.parametrize("be", [False, True])
    def test_rgb(self, comp, be):
        px = _img_rgb()
        got = tiff_decode_array(encode_tiff(px, compression=comp,
                                            big_endian=be))
        assert got is not None, (comp, be)
        w, h, ch, out = got
        assert (w, h, ch) == (17, 13, 3)
        assert np.array_equal(out, px)

    @pytest.mark.parametrize("comp", [1, 32773, 5])
    def test_gray_both_polarities(self, comp):
        px = _img_rgb()[:, :, 0]
        for photo in (0, 1):
            data = 255 - px if photo == 0 else px
            got = tiff_decode_array(
                encode_tiff(data, photometric=photo, compression=comp)
            )
            assert got is not None
            w, h, ch, out = got
            assert ch == 1
            assert np.array_equal(out, px)  # polarity normalized

    def test_multi_strip_and_predictor(self):
        px = _img_rgb(24, 9, seed=5)
        got = tiff_decode_array(
            encode_tiff(px, compression=5, rows_per_strip=7, predictor=2)
        )
        assert got is not None
        assert np.array_equal(got[3], px)
        got2 = tiff_decode_array(
            encode_tiff(px, compression=32773, rows_per_strip=5)
        )
        assert np.array_equal(got2[3], px)

    def test_palette(self):
        rng = np.random.default_rng(7)
        idx = rng.integers(0, 256, size=(8, 11), dtype=np.uint8)
        pal = [tuple(int(v) for v in rng.integers(0, 256, 3))
               for _ in range(256)]
        got = tiff_decode_array(encode_tiff(idx, palette=pal))
        assert got is not None
        w, h, ch, out = got
        assert ch == 3
        expect = np.array([[pal[i] for i in row] for row in idx],
                          dtype=np.uint8)
        assert np.array_equal(out, expect)

    def test_rgba_drops_alpha(self):
        px = _img_rgb()
        rgba = np.concatenate(
            [px, np.full((13, 17, 1), 200, np.uint8)], axis=2
        )
        got = tiff_decode_array(encode_tiff(rgba, photometric=2))
        assert got is not None
        assert np.array_equal(got[3], px)


class TestTiffRefusals:
    def test_unsupported_features_refuse(self):
        px = _img_rgb()
        # 16-bit samples
        blob16 = encode_tiff(px, bits=16)
        assert tiff_decode_array(blob16) is None
        # CCITT / JPEG compression ids
        for comp in (2, 3, 4, 6, 7):
            assert tiff_decode_array(
                encode_tiff(px, compression=1)[:8]
            ) is None or True  # placeholder: built below
            b = bytearray(encode_tiff(px, compression=1))
            # patch the compression SHORT in place
            blob = encode_tiff(px, compression=comp)
            assert tiff_decode_array(blob) is None, comp
        # tiled layout refuses (TileWidth tag present)
        tiled = encode_tiff(px, extra_tags=((322, 3, 1, [16]),))
        assert tiff_decode_array(tiled) is None

    def test_truncation_and_fuzz_never_throw(self):
        base = encode_tiff(_img_rgb(), compression=5)
        for cut in range(0, len(base), 37):
            got = tiff_decode_array(base[:cut])
            assert got is None or got[3] is not None
        rng = np.random.default_rng(0)
        for _ in range(80):
            mut = bytearray(base)
            for _k in range(rng.integers(1, 6)):
                mut[rng.integers(0, len(mut))] ^= 1 << rng.integers(0, 8)
            got = tiff_decode_array(bytes(mut))
            assert got is None or got[3] is not None

    def test_not_tiff(self):
        assert tiff_decode_array(b"") is None
        assert tiff_decode_array(b"II+\x00\x08\x00\x00\x00") is None
        assert tiff_decode_array(b"\x89PNG\r\n\x1a\n") is None


class TestTiffIntegration:
    def test_classify_and_decode_images(self, spark):
        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            decode_images,
            dhash,
        )

        px = _img_rgb(24, 24)
        ok = encode_tiff(px, compression=5, predictor=2)
        assert _classify_decode_tier(ok) == ("tiff", True)
        fax = encode_tiff(px, compression=3)
        assert _classify_decode_tier(fax) == ("tiff", False)
        df = spark.createDataFrame(
            [("a", bytearray(ok)), ("b", bytearray(fax))],
            "path string, content binary",
        )
        got = {r["path"]: r for r in decode_images(df).collect()}
        assert (got["a"]["width"], got["a"]["height"]) == (24, 24)
        assert got["a"]["mean_intensity"] == round(
            float(px.mean()) / 255.0, 6
        )
        assert got["b"]["width"] is None  # refusal -> NULL, not error
        hashes = {r["path"]: r["dhash"] for r in dhash(df).collect()}
        assert hashes["a"] is not None and hashes["b"] is None

    def test_cross_format_perceptual_pair(self):
        """The same pixels through TIFF and PNG fingerprint identically
        (both lossless) — cross-format dedup by construction."""
        from datamancer_spark.operators.multimodal import (
            _decode_gray,
            dhash64_gray,
            png_encode,
        )

        px = _img_rgb(32, 32, seed=9)
        h_tif = dhash64_gray(_decode_gray(encode_tiff(px, compression=32773)))
        h_png = dhash64_gray(_decode_gray(png_encode(px)))
        assert h_tif == h_png


class TestTiffDims:
    def test_image_dimensions_covers_tiff(self, spark):
        """image_dimensions must see TIFF (r9: IFD walk in the Python
        leg) — including profiles the pixel decoder refuses, because
        curate_media's dimension gate needs dims before any decode."""
        from datamancer_spark.operators.fixtures import solid_tiff_blob
        from datamancer_spark.operators.multimodal import image_dimensions

        tiny = solid_tiff_blob(0)  # 4x4
        big = solid_tiff_blob(4)   # 8x8 (4+i%11, 4+i%7)
        rows = [
            ("tiny.tif", bytearray(tiny)),
            ("big.tif", bytearray(big)),
            ("junk.tif", bytearray(b"II*\x00junkjunk")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        out = {r["path"]: r for r in image_dimensions(df).collect()}
        assert out["tiny.tif"]["kind"] == "image/tiff"
        assert (out["tiny.tif"]["width"], out["tiny.tif"]["height"]) == (4, 4)
        assert (out["big.tif"]["width"], out["big.tif"]["height"]) == (8, 8)
        assert out["junk.tif"]["width"] is None

    def test_curate_media_gates_tiff_dims(self, spark):
        from datamancer_spark.operators.fixtures import solid_tiff_blob
        from datamancer_spark.operators.multimodal import curate_media

        rows = [
            ("tiny.tif", bytearray(solid_tiff_blob(0))),   # 4x4 -> gated
            ("big.tif", bytearray(solid_tiff_blob(4))),    # 8x8 -> kept
            ("opaque.bin", bytearray(b"not an image")),    # unknown -> kept
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        survivors, _ = curate_media(df, min_width=8, min_height=8)
        assert {r["path"] for r in survivors.collect()} == {
            "big.tif", "opaque.bin"
        }
