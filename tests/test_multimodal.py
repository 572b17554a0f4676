"""Multimodal plumbing: binaryFile ingestion, Catalyst magic sniffing,
and the real decode and perceptual-hash pipelines."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def media_dir(spark):
    d = tempfile.mkdtemp()
    files = {
        "a.png": b"\x89PNG\r\n\x1a\n" + b"\x00" * 64,
        "b.jpg": b"\xff\xd8\xff\xe0" + b"\x01" * 128,
        "c.bin": b"garbage-bytes" * 10,
    }
    for name, blob in files.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(blob)
    yield d


def _binary_files(spark, path, glob="*"):
    return spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)


def test_read_binary_and_sniff(spark, media_dir):
    from datamancer_spark.operators.multimodal import sniff_kind

    df = _binary_files(spark, media_dir).withColumn("kind", sniff_kind(F.col("content")))
    kinds = {os.path.basename(r["path"]): r["kind"] for r in df.collect()}
    assert kinds["a.png"] == "image/png"
    assert kinds["b.jpg"] == "image/jpeg"
    assert kinds["c.bin"] == "application/octet-stream"


def test_decode_images_null_for_undecodable(spark, media_dir):
    """Blobs the real-decode chain cannot read yield NULL metrics by
    default (a 100 TB job must not die on one bad blob) and raise only
    under on_unsupported='error'."""
    from datamancer_spark.operators.multimodal import decode_images

    src = _binary_files(spark, media_dir, glob="b.jpg")
    rows = decode_images(src).collect()
    assert len(rows) == 1 and rows[0]["width"] is None
    with pytest.raises(Exception, match="no decoder"):
        decode_images(src, on_unsupported="error").collect()
    with pytest.raises(ValueError, match="on_unsupported"):
        decode_images(src, on_unsupported="panic")


@pytest.mark.parametrize("kind", ["image", "audio"])
def test_dhash_null_and_undecodable_blobs(spark, kind):
    """Both kernels map a NULL or undecodable blob to a NULL hash; an
    unknown kind is refused."""
    from datamancer_spark.operators.multimodal import dhash

    df = spark.createDataFrame(
        [("null", None), ("junk", bytearray(b"not media"))],
        "path string, content binary",
    )
    assert {r["path"]: r["dhash"] for r in dhash(df, kind=kind).collect()} == {
        "null": None,
        "junk": None,
    }
    with pytest.raises(ValueError, match="kind must be"):
        dhash(df, kind="video")


class TestRealHeaderParsers:
    """image_dimensions parses REAL container headers (hand-constructed
    to-spec bytes) with no codec library — PNG/GIF/BMP entirely in
    Catalyst, JPEG via the stdlib marker walk."""

    @staticmethod
    def _samples():
        import struct

        png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
               + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00")
        gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
        bmp = b"BM" + b"\x00" * 12 + struct.pack("<III", 40, 800, 600)
        jpeg = (b"\xff\xd8"
                + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"   # APP0
                + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"      # SOF0
                + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9)
        junk = b"\x00\x01\x02 not a media file"
        return png, gif, bmp, jpeg, junk

    def test_image_dimensions_all_formats(self, spark):
        from datamancer_spark.operators.multimodal import image_dimensions

        png, gif, bmp, jpeg, junk = self._samples()
        df = spark.createDataFrame(
            [("p.png", png), ("g.gif", gif), ("b.bmp", bmp),
             ("j.jpg", jpeg), ("x.bin", junk)],
            "path string, content binary",
        )
        out = {r["path"]: (r["width"], r["height"])
               for r in image_dimensions(df).collect()}
        assert out["p.png"] == (640, 480)
        assert out["g.gif"] == (320, 200)
        assert out["b.bmp"] == (800, 600)
        assert out["j.jpg"] == (640, 480)
        assert out["x.bin"] == (None, None)

    def test_png_leg_is_pure_catalyst(self, spark):
        from datamancer_spark.operators.multimodal import (
            bmp_dimensions, gif_dimensions, png_dimensions,
        )
        from pyspark.sql import functions as F

        png, gif, bmp, *_ = self._samples()
        df = spark.createDataFrame(
            [("a", png)], "path string, content binary"
        ).select(
            png_dimensions(F.col("content")).alias("d")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan

    def test_truncated_jpeg_yields_null(self, spark):
        from datamancer_spark.operators.multimodal import image_dimensions

        df = spark.createDataFrame(
            [("t.jpg", b"\xff\xd8\xff\xc0\x00")],
            "path string, content binary",
        )
        row = image_dimensions(df).collect()[0]
        assert row["width"] is None and row["height"] is None


class TestTopDownBmp:
    def test_negative_height_reports_magnitude(self, spark):
        """biHeight is SIGNED: top-down BMPs store -height. The parser
        must sign-extend and report the magnitude, not ~4.29e9."""
        import struct

        from pyspark.sql import functions as F

        from datamancer_spark.operators.multimodal import bmp_dimensions

        td = b"BM" + b"\x00" * 12 + struct.pack("<IIi", 40, 800, -600)
        df = spark.createDataFrame([("t.bmp", td)], "path string, content binary")
        row = df.select(bmp_dimensions(F.col("content")).alias("d")).collect()[0]
        assert row["d"]["width"] == 800
        assert row["d"]["height"] == 600


def _encode_png(px, ctype, filters, palette=None):
    """Minimal reference PNG encoder for round-trip tests: applies the
    given filter type per scanline (forward direction of spec §9) and
    wraps IHDR/PLTE/IDAT/IEND with real CRCs."""
    import struct
    import zlib

    import numpy as np

    h, w = px.shape[0], px.shape[1]
    nch = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * nch).astype(np.int32)
    stride = w * nch
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        if f == 0:
            enc = line % 256
        elif f == 1:
            left = np.concatenate([np.zeros(nch, np.int32), line[:-nch]])
            enc = (line - left) % 256
        elif f == 2:
            enc = (line - prev) % 256
        elif f == 3:
            left = np.concatenate([np.zeros(nch, np.int32), line[:-nch]])
            enc = (line - ((left + prev) >> 1)) % 256
        else:  # Paeth
            left = np.concatenate([np.zeros(nch, np.int32), line[:-nch]])
            ul = np.concatenate([np.zeros(nch, np.int32), prev[:-nch]])
            pa = np.abs(prev - ul)
            pb = np.abs(left - ul)
            pc = np.abs(left + prev - 2 * ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = (line - pred) % 256
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line
    def chunk(typ, data):
        c = struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        return struct.pack(">I", len(data)) + typ + data + c

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    body = chunk(b"IHDR", ihdr)
    if palette is not None:
        body += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    body += chunk(b"IDAT", zlib.compress(bytes(raw)))
    body += chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


class TestRealPngDecode:
    """png_decode_array inverts every spec filter for every color type —
    round-tripped against an independent forward encoder."""

    @pytest.mark.parametrize(
        "ctype,nch", [(0, 1), (2, 3), (4, 2), (6, 4)]
    )
    def test_roundtrip_all_filters(self, ctype, nch):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        rng = np.random.default_rng(ctype)
        px = rng.integers(0, 256, size=(13, 9, nch), dtype=np.uint8)
        blob = _encode_png(px, ctype, filters=[0, 1, 2, 3, 4])
        got = png_decode_array(blob)
        assert got is not None
        w, h, ch, color = got
        assert (w, h, ch) == (9, 13, nch)
        want = px[:, :, :-1] if ctype in (4, 6) else px  # alpha dropped
        assert np.array_equal(color, want)

    def test_palette_expands_through_plte(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        rng = np.random.default_rng(3)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(7, 5), dtype=np.uint8)
        blob = _encode_png(idx, 3, filters=[0, 2, 4], palette=pal)
        got = png_decode_array(blob)
        assert got is not None
        assert got[:3] == (5, 7, 3)
        assert np.array_equal(got[3], pal[idx])

    def test_malformed_and_unsupported_return_none(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        assert png_decode_array(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64) is None
        assert png_decode_array(b"not a png at all") is None
        px = np.zeros((4, 4, 3), dtype=np.uint8)
        blob = bytearray(_encode_png(px, 2, filters=[0]))
        blob[24] = 16  # bit depth 16: unsupported -> None, not crash
        assert png_decode_array(bytes(blob)) is None

    def test_decode_images_real_png_no_fake(self, spark, tmp_path):
        """The verdict's done-criterion: a real PNG fixture decodes to
        pixel stats through the Spark operator."""
        import numpy as np

        from datamancer_spark.operators.multimodal import decode_images

        px = np.full((10, 20, 3), 100, dtype=np.uint8)
        px[:, :, 0] = 200  # mean = (200+100+100)/3 = 133.33../255
        (tmp_path / "real.png").write_bytes(
            _encode_png(px, 2, filters=[0, 1, 2, 3, 4])
        )
        out = decode_images(_binary_files(spark, str(tmp_path))).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["width"], r["height"], r["channels"]) == (20, 10, 3)
        assert r["mean_intensity"] == pytest.approx(
            (400 / 3) / 255.0, abs=2e-6
        )


class TestRealWavDecode:
    @staticmethod
    def _wav(rate=8000, seconds=0.5, bits=16, channels=1, amp=0.5, freq=440.0):
        import struct

        import numpy as np

        n = int(rate * seconds)
        t = np.arange(n) / rate
        x = amp * np.sin(2 * np.pi * freq * t)
        if bits == 16:
            pcm = (x * 32767).astype(np.int16)
        elif bits == 8:
            pcm = ((x * 127) + 128).astype(np.uint8)
        else:
            pcm = (x * (2**31 - 1)).astype(np.int32)
        if channels == 2:
            pcm = np.repeat(pcm, 2)
        data = pcm.tobytes()
        width = bits // 8
        hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                       rate * width * channels, width * channels, bits)
               + b"data" + struct.pack("<I", len(data)))
        return hdr + data

    @pytest.mark.parametrize("bits,channels", [(16, 1), (16, 2), (8, 1), (32, 1)])
    def test_sine_rms_envelope(self, bits, channels):
        from datamancer_spark.operators.multimodal import wav_decode_samples

        blob = self._wav(bits=bits, channels=channels, amp=0.5)
        got = wav_decode_samples(blob)
        assert got is not None
        dur, rate, env = got
        assert rate == 8000 and dur == pytest.approx(0.5, abs=1e-6)
        assert len(env) == 8
        # constant-amplitude sine: every RMS segment ~ A/sqrt(2) = 0.3536
        for v in env:
            assert v == pytest.approx(0.5 / 2**0.5, abs=0.02)

    def test_non_pcm_and_garbage_return_none(self):
        import struct

        from datamancer_spark.operators.multimodal import wav_decode_samples

        blob = bytearray(self._wav())
        struct.pack_into("<H", blob, 20, 3)  # IEEE-float format tag
        assert wav_decode_samples(bytes(blob)) is None
        assert wav_decode_samples(b"\xff\xd8 not audio" * 10) is None

    def test_audio_features_real_wav_no_fake(self, spark, tmp_path):
        from datamancer_spark.operators.multimodal import audio_features

        (tmp_path / "tone.wav").write_bytes(self._wav(amp=0.25))
        (tmp_path / "junk.mp3").write_bytes(b"ID3 not decodable here")
        out = {
            os.path.basename(r["path"]): r
            for r in audio_features(_binary_files(spark, str(tmp_path))).collect()
        }
        tone = out["tone.wav"]
        assert tone["sample_rate"] == 8000
        assert tone["duration_s"] == pytest.approx(0.5, abs=1e-6)
        assert tone["loudness"][0] == pytest.approx(0.25 / 2**0.5, abs=0.01)
        junk = out["junk.mp3"]
        assert junk["sample_rate"] is None and junk["loudness"] is None


def _lzw_encode(min_code_size, data):
    """Reference GIF-LZW encoder (giflib width convention: encoder widens
    when next_code exceeds 2^width AFTER assigning; the decoder widens at
    table size == 2^width, one assignment earlier, compensating its
    one-entry lag). Returns the packed little-endian code bytes."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    codes = [(clear, width)]
    prev = b""
    for byte in bytes(data):
        cur = prev + bytes([byte])
        if cur in table:
            prev = cur
            continue
        codes.append((table[prev], width))
        if next_code <= 4095:
            table[cur] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        prev = bytes([byte])
    if prev:
        codes.append((table[prev], width))
    codes.append((end, width))
    acc = bitpos = 0
    out = bytearray()
    for code, w in codes:
        acc |= code << bitpos
        bitpos += w
        while bitpos >= 8:
            out.append(acc & 255)
            acc >>= 8
            bitpos -= 8
    if bitpos:
        out.append(acc & 255)
    return bytes(out)


def _encode_gif(frames, palette, w, h, min_code_size=None, interlace_frame=None):
    """Minimal GIF89a writer for round-trip tests: global palette, one
    image descriptor per frame (full-canvas), real LZW data in 255-byte
    sub-blocks."""
    import struct

    bits = max(1, (len(palette) - 1).bit_length())
    mcs = min_code_size or max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])  # GCT flag+size, bg=0, aspect
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes([r, g, b])
    pal += b"\x00" * (3 * ((1 << bits) - len(palette)))
    out += pal
    for fi, fr in enumerate(frames):
        data = bytes(fr)
        if interlace_frame == fi:
            rows = [data[r * w : (r + 1) * w] for r in range(h)]
            order = []
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                order += list(range(start, h, step))
            data = b"".join(rows[r] for r in order)
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace_frame == fi else 0])
        out += bytes([mcs])
        enc = _lzw_encode(mcs, data)
        for i in range(0, len(enc), 255):
            blk = enc[i : i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def _encode_gif_ext(frames, palette, w, h):
    """GIF89a writer with per-frame rects and graphic-control
    extensions, for disposal-method tests. ``frames`` is a list of
    dicts: data (index bytes for the rect), rect (fx, fy, fw, fh),
    gce None or (disposal, transparent_idx_or_None)."""
    import struct

    bits = max(1, (len(palette) - 1).bit_length())
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes([r, g, b])
    pal += b"\x00" * (3 * ((1 << bits) - len(palette)))
    out += pal
    for fr in frames:
        if fr.get("gce") is not None:
            disposal, tr = fr["gce"]
            packed = (disposal & 7) << 2 | (1 if tr is not None else 0)
            out += bytes([0x21, 0xF9, 4, packed, 0, 0, tr or 0, 0])
        fx, fy, fw, fh = fr["rect"]
        out += bytes([0x2C]) + struct.pack("<HHHH", fx, fy, fw, fh)
        out += bytes([0, mcs])
        enc = _lzw_encode(mcs, bytes(fr["data"]))
        for i in range(0, len(enc), 255):
            blk = enc[i : i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


class TestRealGifDecode:
    PAL4 = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]

    def test_single_frame_roundtrip(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import gif_decode_frames

        rng = np.random.default_rng(1)
        idx = rng.integers(0, 4, size=(11, 7), dtype=np.uint8)
        blob = _encode_gif([idx.tobytes()], self.PAL4, 7, 11)
        frames = list(gif_decode_frames(blob))
        assert len(frames) == 1
        fi, w, h, rgb = frames[0]
        assert (fi, w, h) == (0, 7, 11)
        expect = np.array(self.PAL4, dtype=np.uint8)[idx.reshape(-1)].tobytes()
        assert rgb == expect

    def test_width_growth_roundtrip(self):
        """Enough distinct 2-pixel patterns to push the LZW dictionary
        across several code-width boundaries (the classic off-by-one)."""
        import numpy as np

        from datamancer_spark.operators.multimodal import gif_decode_frames

        rng = np.random.default_rng(2)
        pal = [(i, 255 - i, i ^ 0x55) for i in range(128)]
        idx = rng.integers(0, 128, size=(64, 64), dtype=np.uint8)
        blob = _encode_gif([idx.tobytes()], pal, 64, 64)
        frames = list(gif_decode_frames(blob))
        assert len(frames) == 1
        _, w, h, rgb = frames[0]
        expect = np.array(pal, dtype=np.uint8)[idx.reshape(-1)].tobytes()
        assert rgb == expect

    def test_interlaced_frame(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import gif_decode_frames

        rng = np.random.default_rng(3)
        idx = rng.integers(0, 4, size=(16, 5), dtype=np.uint8)
        blob = _encode_gif([idx.tobytes()], self.PAL4, 5, 16, interlace_frame=0)
        _, w, h, rgb = next(iter(gif_decode_frames(blob)))
        expect = np.array(self.PAL4, dtype=np.uint8)[idx.reshape(-1)].tobytes()
        assert rgb == expect

    def test_animation_composites(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import gif_decode_frames

        f0 = np.zeros((4, 4), dtype=np.uint8)
        f1 = np.full((4, 4), 2, dtype=np.uint8)
        blob = _encode_gif([f0.tobytes(), f1.tobytes()], self.PAL4, 4, 4)
        frames = list(gif_decode_frames(blob))
        assert [f[0] for f in frames] == [0, 1]
        assert frames[0][3] == bytes(self.PAL4[0]) * 16
        assert frames[1][3] == bytes(self.PAL4[2]) * 16

    def test_garbage_yields_nothing(self):
        from datamancer_spark.operators.multimodal import gif_decode_frames

        assert list(gif_decode_frames(b"GIF8 garbage")) == []

    def _grid(self, rgb, w):
        return [rgb[3 * i : 3 * i + 3] for i in range(len(rgb) // 3)]

    def test_disposal2_restores_only_frame_rect(self):
        """r5 advice: disposal 2 must restore the FRAME's rect to
        background, not wipe the whole canvas — pixels a partial-frame
        animation painted outside the rect must survive."""
        from datamancer_spark.operators.multimodal import gif_decode_frames

        BLACK, RED, GREEN, BLUE = (bytes(c) for c in self.PAL4)
        blob = _encode_gif_ext(
            [
                {"data": b"\x01" * 16, "rect": (0, 0, 4, 4), "gce": (0, None)},
                {"data": b"\x02" * 4, "rect": (1, 1, 2, 2), "gce": (2, None)},
                {"data": b"\x03", "rect": (0, 0, 1, 1), "gce": (0, None)},
            ],
            self.PAL4, 4, 4,
        )
        frames = list(gif_decode_frames(blob))
        assert len(frames) == 3
        g1 = self._grid(frames[1][3], 4)
        assert g1[5] == GREEN and g1[0] == RED
        g2 = self._grid(frames[2][3], 4)
        assert g2[0] == BLUE
        # the 2x2 rect went back to background...
        assert g2[5] == g2[6] == g2[9] == g2[10] == BLACK
        # ...but everything outside it kept frame-0's red
        assert g2[1] == g2[4] == g2[15] == RED

    def test_disposal3_restores_previous_rect(self):
        from datamancer_spark.operators.multimodal import gif_decode_frames

        BLACK, RED, GREEN, BLUE = (bytes(c) for c in self.PAL4)
        blob = _encode_gif_ext(
            [
                {"data": b"\x01" * 16, "rect": (0, 0, 4, 4), "gce": (0, None)},
                {"data": b"\x02" * 4, "rect": (1, 1, 2, 2), "gce": (3, None)},
                {"data": b"\x03", "rect": (3, 3, 1, 1), "gce": (0, None)},
            ],
            self.PAL4, 4, 4,
        )
        frames = list(gif_decode_frames(blob))
        assert len(frames) == 3
        g2 = self._grid(frames[2][3], 4)
        # frame-1's green rect rolled back to frame-0's red
        assert g2[5] == g2[6] == g2[9] == g2[10] == RED
        assert g2[15] == BLUE

    def test_gce_state_resets_after_image_block(self):
        """A frame with NO graphic-control extension must see spec
        defaults: a prior frame's transparent index may not leak and
        skip its pixels."""
        from datamancer_spark.operators.multimodal import gif_decode_frames

        BLACK, RED, GREEN, BLUE = (bytes(c) for c in self.PAL4)
        blob = _encode_gif_ext(
            [
                # frame 0 declares index 2 transparent
                {"data": b"\x01" * 16, "rect": (0, 0, 4, 4), "gce": (0, 2)},
                # frame 1 has NO GCE and paints index 2 — must draw
                {"data": b"\x02" * 16, "rect": (0, 0, 4, 4), "gce": None},
            ],
            self.PAL4, 4, 4,
        )
        frames = list(gif_decode_frames(blob))
        assert len(frames) == 2
        assert frames[1][3] == GREEN * 16
        assert list(gif_decode_frames(b"\x00" * 50)) == []

    def test_sample_frames_real_gif_no_fake(self):
        """The GIF row's frame sampler thins the real decoded canvases to
        every ``every_n``-th frame, at most ``max_frames`` of them; an
        mp4 row has no sampler (no ffmpeg, no fake frames)."""
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            _format_of,
            _gif_sampled_frames,
        )

        rng = np.random.default_rng(5)
        idx = [rng.integers(0, 4, size=(6, 6), dtype=np.uint8) for _ in range(5)]
        blob = _encode_gif([f.tobytes() for f in idx], self.PAL4, 6, 6)
        assert _format_of(blob).frames is _gif_sampled_frames
        got = list(_gif_sampled_frames(blob, every_n=2, max_frames=2))
        assert [(fi, w, h) for fi, w, h, _ in got] == [(0, 6, 6), (2, 6, 6)]
        pal = np.array(self.PAL4, dtype=np.uint8)
        assert [rgb for *_, rgb in got] == [
            pal[idx[0]].tobytes(), pal[idx[2]].tobytes()
        ]
        assert _format_of(b"\x00\x00\x00\x18ftypmp42 junk").frames is None


class TestImageDhash:
    def test_dhash_kernel_known_values(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import dhash64_gray

        # strictly increasing left-to-right: every left cell < right -> 0
        inc = np.tile(np.arange(90, dtype=np.float64) * 2, (16, 1))
        assert dhash64_gray(inc) == 0
        # strictly decreasing: all 64 bits set -> signed -1
        assert dhash64_gray(inc[:, ::-1]) == -1

    def test_dhash_kernel_resize_invariance(self):
        """The box-resample makes dHash stable across scales of the
        same picture — the property that makes it perceptual."""
        import numpy as np

        from datamancer_spark.operators.multimodal import dhash64_gray

        rng = np.random.default_rng(7)
        small = rng.integers(0, 256, size=(8, 9)).astype(np.float64)
        big = np.kron(small, np.ones((6, 6)))  # 48x54 blow-up
        assert dhash64_gray(small) == dhash64_gray(big)

    def test_image_dhash_png_gif_and_null(self, spark):
        import numpy as np

        from datamancer_spark.operators.multimodal import dhash

        rng = np.random.default_rng(11)
        base = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
        near = base.copy()
        near[0, 0] ^= 1  # sub-cell perturbation: same dhash cells
        other = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
        gif_idx = rng.integers(0, 4, size=(16, 16), dtype=np.uint8)
        rows = [
            ("png_a", bytearray(_encode_png(base, 0, [0, 1, 2, 3, 4]))),
            ("png_near", bytearray(_encode_png(near, 0, [0]))),
            ("png_b", bytearray(_encode_png(other, 0, [2]))),
            ("gif_a", bytearray(_encode_gif([gif_idx.tobytes()],
                                            TestRealGifDecode.PAL4, 16, 16))),
            ("jpegish", bytearray(b"\xff\xd8\xff not decodable")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {r["path"]: r["dhash"] for r in dhash(df).collect()}
        assert got["jpegish"] is None
        assert got["gif_a"] is not None
        assert got["png_a"] == got["png_near"]  # tiny edit -> same hash
        diff = bin((got["png_a"] ^ got["png_b"]) & (2**64 - 1)).count("1")
        assert diff >= 16  # unrelated images land far apart

    def test_image_dhash_bit_exact_in_mixed_null_batch(self, spark):
        """Regression (r9): one undecodable blob in an Arrow batch used
        to coerce the pandas hash column to float64, silently mangling
        the low ~11 bits of every hash > 2^53 in that batch — false
        hamming-0 merges downstream. Hashes must be BIT-EXACT with the
        pure kernel even when the batch mixes NULLs in."""
        from datamancer_spark.operators.fixtures import pattern_png_blob
        from datamancer_spark.operators.multimodal import (
            _decode_gray,
            dhash,
            dhash64_gray,
        )

        rows = []
        want = {}
        for i in range(24):
            if i % 5 == 0:  # interleave undecodables into every batch
                rows.append((i, bytearray(b"\xff\xd8\xff nope")))
                want[i] = None
            else:
                blob = pattern_png_blob(i)
                rows.append((i, bytearray(blob)))
                want[i] = dhash64_gray(_decode_gray(blob))
        df = spark.createDataFrame(
            rows, "doc_id long, content binary"
        ).coalesce(1)  # one partition -> one mixed batch
        got = {
            r["doc_id"]: r["dhash"]
            for r in dhash(df, id_col="doc_id").collect()
        }
        assert got == want

    def test_dhash_pairs_groups_near_dups_only(self, spark):
        import numpy as np

        from datamancer_spark.operators.multimodal import dhash_pairs

        rng = np.random.default_rng(13)
        base = rng.integers(0, 256, size=(40, 45), dtype=np.uint8)
        copy = base.copy()
        copy[3, 3] ^= 2
        other = rng.integers(0, 256, size=(40, 45), dtype=np.uint8)
        rows = [
            ("a", bytearray(_encode_png(base, 0, [0]))),
            ("a2", bytearray(_encode_png(copy, 0, [1]))),
            ("b", bytearray(_encode_png(other, 0, [0]))),
            ("bad", bytearray(b"not an image")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in dhash_pairs(df, max_hamming=3).collect()}
        assert ("a", "a2") in pairs and pairs[("a", "a2")] <= 3
        assert all("b" not in p and "bad" not in p for p in pairs)

    def test_dhash_pairs_plan_has_no_cartesian(self, spark):
        import numpy as np

        from datamancer_spark.operators.multimodal import dhash_pairs

        rng = np.random.default_rng(17)
        rows = [
            (f"p{i}", bytearray(_encode_png(
                rng.integers(0, 256, size=(16, 16), dtype=np.uint8), 0, [0])))
            for i in range(6)
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        plan = dhash_pairs(df)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestAudioDhash:
    @staticmethod
    def _am_wav(rate=8000, seconds=1.0, bits=16, mod_hz=3.0, phase=0.0):
        """Amplitude-modulated sine: a strongly varying loudness
        envelope, so frame-energy comparisons are signal-driven."""
        import struct

        import numpy as np

        n = int(rate * seconds)
        t = np.arange(n) / rate
        env = 0.2 + 0.8 * np.abs(np.sin(2 * np.pi * mod_hz * t + phase))
        x = env * np.sin(2 * np.pi * 440.0 * t)
        if bits == 16:
            pcm = (x * 20000).astype(np.int16)
        else:
            pcm = (x * (2**30)).astype(np.int32)
        data = pcm.tobytes()
        width = bits // 8
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                        rate * width, width, bits)
                + b"data" + struct.pack("<I", len(data)) + data)

    def test_volume_and_bitdepth_invariance(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            audio_dhash64,
            wav_decode_array,
        )

        _, base = wav_decode_array(self._am_wav(bits=16))
        _, deep = wav_decode_array(self._am_wav(bits=32))
        assert audio_dhash64(base) == audio_dhash64(deep)
        # global gain cannot flip an energy comparison
        assert audio_dhash64(base * 0.1) == audio_dhash64(base)

    def test_unrelated_clips_land_far(self):
        from datamancer_spark.operators.multimodal import (
            audio_dhash64,
            wav_decode_array,
        )

        _, a = wav_decode_array(self._am_wav(mod_hz=3.0))
        _, b = wav_decode_array(self._am_wav(mod_hz=7.3, phase=1.1))
        diff = bin((audio_dhash64(a) ^ audio_dhash64(b)) & (2**64 - 1)).count("1")
        assert diff >= 16

    def test_dhash_pairs_audio_end_to_end(self, spark):
        from datamancer_spark.operators.multimodal import dhash_pairs

        rows = [
            ("a", bytearray(self._am_wav(bits=16))),
            ("a_deep", bytearray(self._am_wav(bits=32))),   # same clip, re-quantized
            ("b", bytearray(self._am_wav(mod_hz=7.3, phase=1.1))),
            ("mp3ish", bytearray(b"ID3 not decodable audio")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in dhash_pairs(df, max_hamming=3, kind="audio").collect()}
        assert ("a", "a_deep") in pairs and pairs[("a", "a_deep")] <= 3
        assert all("b" not in p and "mp3ish" not in p for p in pairs)


def test_image_dhash_numeric_id_column(spark):
    """The signature frame must preserve the INPUT id type: a corpus
    keyed by a LongType doc_id (not a path string) flows through
    dhash/dhash_pairs without schema coercion."""
    import numpy as np

    from datamancer_spark.operators.multimodal import dhash

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    rows = [(101, bytearray(_encode_png(img, 0, [0]))), (102, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = dhash(df, id_col="doc_id")
    assert dict(out.dtypes)["doc_id"] == "bigint"
    got = {r["doc_id"]: r["dhash"] for r in out.collect()}
    assert got[101] is not None and got[102] is None


class TestG711Wav:
    """G.711 mu-law / A-law WAV decode verified against independent
    forward companders (standard segment encoders)."""

    @staticmethod
    def _wav_g711(samples_f, rate, fmt_code, payload):
        import struct

        return (b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, fmt_code, 1, rate,
                                        rate, 1, 8)
                + b"data" + struct.pack("<I", len(payload)) + payload)

    @staticmethod
    def _ulaw_encode(x16):
        import numpy as np

        BIAS, CLIP = 0x84, 32635
        x = np.asarray(x16, dtype=np.int64)
        sign = (x < 0).astype(np.int64)
        a = np.minimum(np.abs(x), CLIP) + BIAS
        exp = np.floor(np.log2(a)).astype(np.int64) - 7
        man = (a >> (exp + 3)) & 0x0F
        return (~((sign << 7) | (exp << 4) | man) & 0xFF).astype(np.uint8)

    @staticmethod
    def _alaw_encode(x16):
        import numpy as np

        x = np.asarray(x16, dtype=np.int64)
        sign = (x >= 0).astype(np.int64)
        a = np.minimum(np.abs(x), 32767) >> 3  # 13-bit magnitude
        exp = np.zeros_like(a)
        nz = a >= 32
        exp[nz] = np.floor(np.log2(a[nz])).astype(np.int64) - 4
        man = np.where(exp == 0, a >> 1, (a >> exp) & 0x0F)
        return ((((sign << 7) | (exp << 4) | man) ^ 0x55) & 0xFF).astype(
            np.uint8
        )

    @pytest.mark.parametrize("law", ["ulaw", "alaw"])
    def test_companded_roundtrip(self, law):
        import numpy as np

        from datamancer_spark.operators.multimodal import wav_decode_array

        rate = 8000
        t = np.arange(rate // 2) / rate
        x = 0.7 * np.sin(2 * np.pi * 440 * t) * np.abs(np.sin(2 * np.pi * 3 * t))
        x16 = (x * 32767).astype(np.int64)
        if law == "ulaw":
            payload = self._ulaw_encode(x16).tobytes()
            fmt_code = 7
        else:
            payload = self._alaw_encode(x16).tobytes()
            fmt_code = 6
        got = wav_decode_array(self._wav_g711(x, rate, fmt_code, payload))
        assert got is not None
        grate, mono = got
        assert grate == rate and len(mono) == len(x)
        # companding is lossy but strongly correlated with the source
        c = np.corrcoef(mono, x)[0, 1]
        assert c > 0.995, f"{law} correlation {c}"

    def test_compressed_fmt_still_refused(self):
        import struct

        from datamancer_spark.operators.multimodal import wav_decode_array

        payload = b"\x01\x02\x03\x04" * 10
        blob = (b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 85, 1, 8000,  # 85 = MP3
                                        8000, 1, 0)
                + b"data" + struct.pack("<I", len(payload)) + payload)
        assert wav_decode_array(blob) is None


class TestImaAdpcmWav:
    @staticmethod
    def _ima_encode_mono(x16, block_samples=505):
        """Independent IMA ADPCM forward encoder (standard step/index
        tables, nibble-packed low-first, 4-byte block headers)."""
        import struct

        import numpy as np

        STEPS = [
            7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
            34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
            143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
            449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
            1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
            3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
            9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
            22385, 24623, 27086, 29794, 32767,
        ]
        IDX = [-1, -1, -1, -1, 2, 4, 6, 8]
        out = bytearray()
        i = 0
        n = len(x16)
        idx = 0
        while i < n:
            pred = int(x16[i])
            out += struct.pack("<hBB", pred, idx, 0)
            i += 1
            nibs = []
            for _ in range(block_samples - 1):
                target = int(x16[i]) if i < n else pred
                step = STEPS[idx]
                diff = target - pred
                nib = 0
                if diff < 0:
                    nib = 8
                    diff = -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                # decoder-mirror reconstruction
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = pred - d if nib & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + IDX[nib & 7]))
                nibs.append(nib)
                if i < n:
                    i += 1
            for k in range(0, len(nibs), 2):
                lo = nibs[k]
                hi = nibs[k + 1] if k + 1 < len(nibs) else 0
                out.append(lo | (hi << 4))
        block_align = 4 + (block_samples - 1 + 1) // 2
        return bytes(out), block_align

    def test_ima_adpcm_roundtrip(self):
        import struct

        import numpy as np

        from datamancer_spark.operators.multimodal import wav_decode_array

        rate = 8000
        t = np.arange(rate) / rate
        x = 0.5 * np.sin(2 * np.pi * 220 * t) * np.abs(np.sin(2 * np.pi * 2 * t))
        x16 = (x * 32767).astype(np.int64)
        payload, balign = self._ima_encode_mono(x16)
        blob = (b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 17, 1, rate,
                                        rate // 2, balign, 4)
                + b"data" + struct.pack("<I", len(payload)) + payload)
        got = wav_decode_array(blob)
        assert got is not None
        grate, mono = got
        assert grate == rate
        m = min(len(mono), len(x))
        c = np.corrcoef(mono[:m], x[:m])[0, 1]
        assert c > 0.99, f"adpcm correlation {c}"


class TestPngAdam7And16Bit:
    @staticmethod
    def _wrap_png(w, h, depth, ctype, interlace, raw):
        import struct
        import zlib

        def chunk(typ, payload):
            c = typ + payload
            return (struct.pack(">I", len(payload)) + c
                    + struct.pack(">I", zlib.crc32(c)))

        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    @classmethod
    def _encode_adam7(cls, px, filters=(0, 1, 2, 3, 4)):
        """Independent Adam7 interlaced encoder (8-bit gray/RGB): emit
        the seven passes in spec order, each filtered per scanline."""
        import numpy as np

        h, w = px.shape[:2]
        nch = 1 if px.ndim == 2 else px.shape[2]
        arr = px.reshape(h, w, nch).astype(np.int64)
        raw = bytearray()
        fi = 0
        for (x0, y0, dx, dy) in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                                 (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                                 (0, 1, 1, 2)):
            sub = arr[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            flat = sub.reshape(ph, pw * nch)
            prev = np.zeros(pw * nch, dtype=np.int64)
            for y in range(ph):
                f = filters[fi % len(filters)]
                fi += 1
                line = flat[y]
                left = np.concatenate([np.zeros(nch, np.int64), line[:-nch]])
                ul = np.concatenate([np.zeros(nch, np.int64), prev[:-nch]])
                if f == 0:
                    enc = line % 256
                elif f == 1:
                    enc = (line - left) % 256
                elif f == 2:
                    enc = (line - prev) % 256
                elif f == 3:
                    enc = (line - ((left + prev) >> 1)) % 256
                else:
                    pa = np.abs(prev - ul)
                    pb = np.abs(left - ul)
                    pc = np.abs(left + prev - 2 * ul)
                    pred = np.where((pa <= pb) & (pa <= pc), left,
                                    np.where(pb <= pc, prev, ul))
                    enc = (line - pred) % 256
                raw += bytes([f]) + enc.astype(np.uint8).tobytes()
                prev = line
        ctype = 0 if nch == 1 else 2
        return cls._wrap_png(w, h, 8, ctype, 1, bytes(raw))

    def test_adam7_roundtrip_gray_and_rgb(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        rng = np.random.default_rng(61)
        for shape in [(13, 9), (16, 16), (5, 21, 3)]:
            img = rng.integers(0, 256, size=shape, dtype=np.uint8)
            got = png_decode_array(self._encode_adam7(img))
            assert got is not None, shape
            w, h, ch, px = got
            nch = 1 if img.ndim == 2 else 3
            assert (w, h, ch) == (shape[1], shape[0], nch)
            assert np.array_equal(px.reshape(img.shape), img), shape

    def test_16bit_gray_high_byte(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        rng = np.random.default_rng(67)
        img16 = rng.integers(0, 65536, size=(9, 7), dtype=np.uint16)
        raw = bytearray()
        for y in range(9):
            raw += b"\x00" + img16[y].byteswap().tobytes()  # big-endian rows
        got = png_decode_array(self._wrap_png(7, 9, 16, 0, 0, bytes(raw)))
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (7, 9, 1)
        assert np.array_equal(px[:, :, 0], (img16 >> 8).astype(np.uint8))

    def test_subbyte_depth_still_refused(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        raw = b"\x00" + bytes(2)
        assert png_decode_array(self._wrap_png(4, 2, 4, 3, 0, raw)) is None


class TestWebpDimensions:
    """Hand-built to-spec WebP containers for all three variants."""

    @staticmethod
    def _riff(fourcc, payload):
        import struct

        chunk = fourcc + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    def test_all_three_variants(self, spark):
        import struct

        from datamancer_spark.operators.multimodal import image_dimensions

        # VP8 lossy: 3-byte frame tag, start code, 14-bit LE dims
        vp8 = self._riff(
            b"VP8 ",
            b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", 320, 240),
        )
        # VP8L lossless: 0x2F signature + packed (w-1, h-1) 14-bit fields
        w, h = 500, 301
        packed = (w - 1) | ((h - 1) << 14)
        vp8l = self._riff(b"VP8L", bytes([0x2F]) + struct.pack("<I", packed))
        # VP8X extended: flags+reserved then 24-bit LE canvas-minus-one
        vp8x = self._riff(
            b"VP8X",
            b"\x00\x00\x00\x00"
            + (1920 - 1).to_bytes(3, "little")
            + (1080 - 1).to_bytes(3, "little"),
        )
        df = spark.createDataFrame(
            [("a.webp", bytearray(vp8)), ("b.webp", bytearray(vp8l)),
             ("c.webp", bytearray(vp8x)),
             ("bad.webp", bytearray(b"RIFF\x04\x00\x00\x00WEBP"))],
            "path string, content binary",
        )
        out = {r["path"]: (r["width"], r["height"])
               for r in image_dimensions(df).collect()}
        assert out["a.webp"] == (320, 240)
        assert out["b.webp"] == (500, 301)
        assert out["c.webp"] == (1920, 1080)
        assert out["bad.webp"] == (None, None)

    def test_webp_leg_is_pure_catalyst(self, spark):
        from pyspark.sql import functions as F

        from datamancer_spark.operators.multimodal import webp_dimensions

        df = spark.createDataFrame(
            [("a", b"RIFFxxxxWEBP")], "path string, content binary"
        ).select(webp_dimensions(F.col("content")).alias("d"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan


def test_decode_images_real_gif(spark):
    """decode_images must cover GIF with the same real decoder the
    dhash path uses — a uniform-color GIF reports exact mean."""
    import numpy as np

    from datamancer_spark.operators.multimodal import decode_images

    idx = np.full((10, 12), 2, dtype=np.uint8)  # palette 2 = green
    blob = _encode_gif([idx.tobytes()], TestRealGifDecode.PAL4, 12, 10)
    df = spark.createDataFrame(
        [("g.gif", bytearray(blob))], "path string, content binary"
    )
    r = decode_images(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (12, 10, 3)
    assert abs(r["mean_intensity"] - (255 / 3) / 255.0) < 1e-6


class TestAudioContainerMetadata:
    @staticmethod
    def _flac(rate=16000, channels=1, bits=16, total=48000):
        """Hand-built to-spec fLaC + STREAMINFO block."""
        packed = (rate << 44) | ((channels - 1) << 41) \
            | ((bits - 1) << 36) | total
        body = bytes(10) + packed.to_bytes(8, "big") + bytes(16)
        return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body

    def test_flac_streaminfo(self):
        from datamancer_spark.operators.multimodal import flac_streaminfo

        got = flac_streaminfo(self._flac())
        assert got == (16000, 1, 16, 3.0)
        assert flac_streaminfo(b"not flac at all") is None

    def test_audio_container_metadata_frame(self, spark):
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
        )

        wav = TestG711Wav._wav_g711(
            np.zeros(10), 8000, 7,
            TestG711Wav._ulaw_encode(np.zeros(8000, dtype=np.int64)).tobytes(),
        )
        rows = [
            ("a.flac", bytearray(self._flac(rate=22050, channels=2,
                                            bits=24, total=44100))),
            ("b.wav", bytearray(wav)),
            ("c.bin", bytearray(b"no audio here")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {r["path"]: r for r in audio_container_metadata(df).collect()}
        a = got["a.flac"]
        assert (a["container"], a["sample_rate"], a["channels"],
                a["bits_per_sample"], a["duration_s"]) == (
            "flac", 22050, 2, 24, 2.0)
        b = got["b.wav"]
        assert b["container"] == "wav" and b["sample_rate"] == 8000
        assert b["channels"] == 1 and abs(b["duration_s"] - 1.0) < 1e-6
        assert got["c.bin"]["container"] is None
        # decodable tier (r6 advice #8 + r7 flaccodec): G.711 wav and
        # flac both screen, unknown container is NULL
        assert b["decodable"] is True
        assert a["decodable"] is True
        assert got["c.bin"]["decodable"] is None

    def test_ima_adpcm_stereo_roundtrip(self):
        """Stereo blocks: per-channel 4-byte headers, then nibble
        streams interleaved in 4-byte words. Encode two distinct
        channels independently; the decoder's channel mix must match
        the mean of the source channels."""
        import struct

        import numpy as np

        from datamancer_spark.operators.multimodal import wav_decode_array

        rate = 8000
        t = np.arange(rate) / rate
        left = 0.5 * np.sin(2 * np.pi * 220 * t) * np.abs(np.sin(2 * np.pi * 2 * t))
        right = 0.4 * np.sin(2 * np.pi * 330 * t) * np.abs(np.sin(2 * np.pi * 3 * t))
        l16 = (left * 32767).astype(np.int64)
        r16 = (right * 32767).astype(np.int64)
        # independent per-channel encode, then interleave into blocks
        enc = TestImaAdpcmWav._ima_encode_mono
        pl, balign_m = enc(l16, block_samples=505)
        pr, _ = enc(r16, block_samples=505)
        blocks = bytearray()
        bm = balign_m  # mono block size: 4 + 252
        for b0 in range(0, min(len(pl), len(pr)) - bm + 1, bm):
            lb, rb = pl[b0 : b0 + bm], pr[b0 : b0 + bm]
            blocks += lb[:4] + rb[:4]
            lbody, rbody = lb[4:], rb[4:]
            for w0 in range(0, len(lbody) - 3, 4):
                blocks += lbody[w0 : w0 + 4] + rbody[w0 : w0 + 4]
        balign_s = 8 + 2 * (bm - 4) // 4 * 4
        blob = (b"RIFF" + struct.pack("<I", 36 + len(blocks)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 17, 2, rate,
                                        rate, balign_s, 4)
                + b"data" + struct.pack("<I", len(blocks)) + bytes(blocks))
        got = wav_decode_array(blob)
        assert got is not None
        grate, mono = got
        assert grate == rate
        expect = (left + right) / 2.0
        m = min(len(mono), len(expect))
        c = np.corrcoef(mono[:m], expect[:m])[0, 1]
        assert c > 0.99, f"stereo adpcm correlation {c}"

    @staticmethod
    def _ogg_page(payload, granule=0, seq=0, header_type=0):
        import struct

        nseg = (len(payload) + 254) // 255 or 1
        segs = []
        rem = len(payload)
        for _ in range(nseg):
            segs.append(min(rem, 255))
            rem -= min(rem, 255)
        return (b"OggS" + bytes([0, header_type])
                + struct.pack("<q", granule) + struct.pack("<I", 1)
                + struct.pack("<I", seq) + struct.pack("<I", 0)
                + bytes([len(segs)]) + bytes(segs) + payload)

    def test_ogg_opus_metadata(self):
        import struct

        from datamancer_spark.operators.multimodal import ogg_metadata

        opushead = (b"OpusHead" + bytes([1, 2])
                    + struct.pack("<H", 312)        # pre-skip
                    + struct.pack("<I", 48000) + b"\x00\x00\x00")
        blob = (self._ogg_page(opushead, granule=0, seq=0, header_type=2)
                + self._ogg_page(b"\x00" * 10, granule=48000 * 3 + 312,
                                 seq=1, header_type=4))
        got = ogg_metadata(blob)
        assert got == ("opus", 48000, 2, 3.0)

    def test_ogg_vorbis_metadata(self):
        import struct

        from datamancer_spark.operators.multimodal import ogg_metadata

        vid = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([1])
               + struct.pack("<I", 22050) + b"\x00" * 16)
        blob = (self._ogg_page(vid, granule=0, header_type=2)
                + self._ogg_page(b"\x00" * 4, granule=44100, seq=1,
                                 header_type=4))
        got = ogg_metadata(blob)
        assert got == ("vorbis", 22050, 1, 2.0)

    def test_mp3_header_info(self):
        from datamancer_spark.operators.multimodal import mp3_header_info

        # MPEG-1 Layer III, 128 kbps (idx 9), 44100 Hz (idx 0), stereo
        frame = bytes([0xFF, 0xFB, 0x90, 0x00])
        audio = frame + b"\x00" * (16000 - 4)  # 16 kB of "audio"
        id3 = b"ID3" + bytes([4, 0, 0]) + bytes([0, 0, 0, 10]) + b"\x00" * 10
        got = mp3_header_info(id3 + audio)
        assert got is not None
        rate, ch, br, dur = got
        assert (rate, ch, br) == (44100, 2, 128)
        assert abs(dur - 16000 * 8 / 128000) < 1e-6
        assert mp3_header_info(b"random junk bytes") is None

    def test_mp3_vbr_xing_duration_and_id3v1_trailer(self):
        """r7: a Xing header's frame count gives the TRUE duration for
        VBR encodes (the CBR byte estimate is wrong there), and an
        ID3v1 'TAG' trailer is excluded from the CBR byte count."""
        from datamancer_spark.operators.multimodal import mp3_header_info

        frame_hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
        # stereo MPEG-1: side info is 32 bytes after the 4-byte header
        side = b"\x00" * 32
        xing = (b"Xing" + (1).to_bytes(4, "big")       # flags: frames
                + (750).to_bytes(4, "big"))            # 750 frames
        body = frame_hdr + side + xing
        blob = body + b"\x00" * (40000 - len(body))
        got = mp3_header_info(blob)
        assert got is not None
        rate, ch, br, dur = got
        assert (rate, ch) == (44100, 2)
        assert abs(dur - 750 * 1152 / 44100) < 1e-6  # ~19.59 s, not CBR

        # CBR + ID3v1 trailer: 128 trailer bytes excluded
        cbr = frame_hdr + b"\x00" * (16000 - 4) + b"TAG" + b"\x00" * 125
        got2 = mp3_header_info(cbr)
        assert got2 is not None
        assert abs(got2[3] - 16000 * 8 / 128000) < 1e-6

    def test_adts_metadata(self):
        """r10 (VERDICT r9 #5): bare ADTS-AAC metadata from the
        self-describing fixed headers — rate/channels exact, duration
        = frames * 1024 * blocks / rate."""
        from datamancer_spark.operators.fixtures import adts_aac_blob
        from datamancer_spark.operators.multimodal import adts_metadata

        for i in (0, 1, 2, 5, 10):
            got = adts_metadata(adts_aac_blob(i))
            assert got is not None, i
            rate, ch, dur, nf = got
            assert rate == (44100, 22050, 8000)[i % 3]
            assert ch == 1 + i % 2
            assert nf == 8 + i % 5
            assert dur == round(nf * 1024 / rate, 6)

    def test_adts_multi_block_truncation_and_rejections(self):
        from datamancer_spark.operators.multimodal import adts_metadata

        def frame(flen, rdb=0, sfi=4, cc=2):
            h = bytearray(7)
            h[0], h[1] = 0xFF, 0xF1
            h[2] = (1 << 6) | (sfi << 2) | (cc >> 2)
            h[3] = ((cc & 3) << 6) | (flen >> 11)
            h[4] = (flen >> 3) & 0xFF
            h[5] = ((flen & 7) << 5) | 0x1F
            h[6] = 0xFC | rdb
            return bytes(h) + b"\xAB" * (flen - 7)

        # 2 raw data blocks per frame -> 2048 samples each
        blob = frame(32, rdb=1) + frame(32, rdb=1)
        got = adts_metadata(blob)
        assert got == (44100, 2, round(2 * 2048 / 44100, 6), 2)
        # truncated FINAL frame still counts (crawl reality)
        full = frame(40) + frame(40) + frame(40)
        assert adts_metadata(full[:-20])[3] == 3
        # a single frame is not proof of ADTS
        assert adts_metadata(frame(32)) is None
        # rate bits flipping mid-stream: not a legal ADTS chain
        assert adts_metadata(frame(32) + frame(32, sfi=7)) is None
        # desync after the first frame: random 0xFFF inside another
        # codec never chains
        assert adts_metadata(frame(32) + b"\x00" * 40) is None
        assert adts_metadata(b"junk") is None
        # an MP3 frame is NOT adts (layer bits 01, not 00)
        mp3 = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 100
        assert adts_metadata(mp3) is None

    def test_adts_beats_mp3_heuristic_in_container_walk(self, spark):
        """An ADTS stream satisfies the loose MPEG sync; the container
        walk and the coverage classifier must classify it aac/adts via
        the chained walk, never mp3 via a payload false-sync."""
        from datamancer_spark.operators.fixtures import adts_aac_blob
        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            audio_container_metadata,
        )

        blob = adts_aac_blob(3)
        assert _classify_decode_tier(blob) == ("aac/adts", False)
        df = spark.createDataFrame(
            [("a", bytearray(blob))], "path string, content binary"
        )
        row = audio_container_metadata(df).collect()[0]
        assert row["container"] == "aac/adts"
        assert row["sample_rate"] == 44100
        assert row["channels"] == 2
        assert row["decodable"] is False
        assert row["duration_s"] == round(11 * 1024 / 44100, 6)

    def test_adts_fuzz_never_raises(self):
        """Byte-parser convention: truncations, bit flips, and length
        corruptions of a valid ADTS stream must yield a result or None,
        never an exception (and every all-bytes prefix/suffix too)."""
        import hashlib as hl

        from datamancer_spark.operators.fixtures import adts_aac_blob
        from datamancer_spark.operators.multimodal import adts_metadata

        base = adts_aac_blob(6)
        for cut in range(0, len(base), 7):
            adts_metadata(base[:cut])
            adts_metadata(base[cut:])
        for i in range(200):
            d = hl.md5(f"adtsfuzz{i}".encode()).digest()
            pos = int.from_bytes(d[:4], "big") % len(base)
            mut = bytearray(base)
            mut[pos] ^= d[4] or 1
            adts_metadata(bytes(mut))  # value unspecified; no raise
        # header-only and absurd-length frames
        adts_metadata(b"\xff\xf1" + b"\x00" * 20)
        adts_metadata(b"\xff\xf1\x50\x80\x00\x3f\xfc" * 3)

    def test_mp3_survives_false_sync_in_junk_prefix(self):
        """A 0xFFEx byte pair that fails frame validation (reserved
        bitrate index / wrong layer) must not abort the bounded scan —
        the real frame later in the window is still found."""
        from datamancer_spark.operators.multimodal import mp3_header_info

        real = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * (16000 - 4)
        # 0xFF 0xEA = MPEG-2 Layer II (fails the v1/L3 gate);
        # 0xFF 0xFB 0xF0 = valid version/layer but reserved bitrate 0xF
        junk = b"garbage\xff\xeaxx more \xff\xfb\xf0\x00 junk "
        got = mp3_header_info(junk + real)
        assert got is not None
        rate, ch, br, _dur = got
        assert (rate, ch, br) == (44100, 2, 128)

    def test_mpeg_layer1_metadata(self, spark):
        """Layer I decodes (``decodable`` True), so its rate and
        duration are read too, not left NULL: 1 s at 44.1 kHz is 115
        whole 384-sample frames (the encoder pads the last one)."""
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
        )
        from tests.mpeg_encoder import encode_layer1

        rate = 44100
        t = np.arange(rate) / rate
        blob = encode_layer1([0.5 * np.sin(2 * np.pi * 440 * t)], rate)
        df = spark.createDataFrame(
            [("l1.mp3", bytearray(blob))], "path string, content binary"
        )
        [row] = audio_container_metadata(df).collect()
        assert row["container"] == "mp3" and row["decodable"] is True
        assert (row["sample_rate"], row["channels"]) == (rate, 1)
        assert row["duration_s"] == round(115 * 384 / rate, 6)

    def test_ogg_duration_ignores_payload_oggs_impostor(self):
        """'OggS' occurring INSIDE a compressed packet payload after
        the real last page must not hijack the duration: the impostor
        fails page-header validation (version/flags/segment table) and
        the walk falls back to the real final page."""
        import struct

        from datamancer_spark.operators.multimodal import ogg_metadata

        opushead = (b"OpusHead" + bytes([1, 2])
                    + struct.pack("<H", 312)
                    + struct.pack("<I", 48000) + b"\x00\x00\x00")
        # payload of the final page contains a fake capture pattern with
        # garbage where granule/version/flags would be
        tail_payload = b"\x00" * 3 + b"OggS\xff\x51\x88\x99" + b"\xee" * 9
        blob = (self._ogg_page(opushead, granule=0, seq=0, header_type=2)
                + self._ogg_page(tail_payload, granule=48000 * 5 + 312,
                                 seq=1, header_type=4))
        # the impostor is BEHIND the real page header in the byte stream,
        # so rfind hits it first
        assert blob.rfind(b"OggS") > blob.rfind(b"OggS", 0, blob.rfind(b"OggS"))
        got = ogg_metadata(blob)
        assert got == ("opus", 48000, 2, 5.0)

    def test_audio_metadata_covers_ogg_and_mp3(self, spark):
        import struct

        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
        )

        opushead = (b"OpusHead" + bytes([1, 1]) + struct.pack("<H", 0)
                    + struct.pack("<I", 48000) + b"\x00\x00\x00")
        ogg = (self._ogg_page(opushead, header_type=2)
               + self._ogg_page(b"\x00", granule=96000, seq=1, header_type=4))
        mp3 = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 3996
        df = spark.createDataFrame(
            [("a.opus", bytearray(ogg)), ("b.mp3", bytearray(mp3))],
            "path string, content binary",
        )
        got = {r["path"]: r for r in audio_container_metadata(df).collect()}
        assert got["a.opus"]["container"] == "ogg/opus"
        assert got["a.opus"]["duration_s"] == 2.0
        assert got["b.mp3"]["container"] == "mp3"
        assert got["b.mp3"]["sample_rate"] == 44100
        assert got["a.opus"]["decodable"] is False
        assert got["b.mp3"]["decodable"] is False


class TestMediaDecodeCoverage:
    def test_per_container_fractions(self, spark):
        """r6 advice #8: the coverage report must say which fraction of
        each container is perceptually screenable — PCM wav yes,
        unsupported-fmt wav no, mp3/flac metadata-only, images yes."""
        import struct as st

        import numpy as np

        from datamancer_spark.operators.multimodal import (
            media_decode_coverage,
        )
        from tests.test_multimodal import _encode_png

        img = np.zeros((10, 10), dtype=np.uint8)
        png = bytearray(_encode_png(img, 0, [0]))

        def wav(fmt_code, bits):
            body = (b"fmt " + st.pack("<I", 16)
                    + st.pack("<HHIIHH", fmt_code, 1, 8000, 8000, 1, bits)
                    + b"data" + st.pack("<I", 4) + b"\x00" * 4)
            return b"RIFF" + st.pack("<I", 4 + len(body)) + b"WAVE" + body

        mp3 = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 96
        rows = [
            ("p.png", png),
            ("w1.wav", bytearray(wav(1, 16))),   # PCM: screenable
            ("w2.wav", bytearray(wav(85, 0))),   # fmt 0x55 (mp3-in-wav): no
            ("m.mp3", bytearray(mp3)),
            ("x.bin", bytearray(b"opaque")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {
            r["container"]: (r["n"], r["n_screenable"], r["screenable_frac"])
            for r in media_decode_coverage(df).collect()
        }
        assert got["png"] == (1, 1, 1.0)
        assert got["wav"] == (2, 1, 0.5)
        assert got["mp3"] == (1, 0, 0.0)
        assert got["unknown"] == (1, 0, 0.0)


def _encode_png_subbyte(samples, depth, ctype, filters, palette=None,
                        interlace=0):
    """Independent sub-byte (1/2/4-bit) PNG encoder: bit-packs each
    scanline MSB-first with end-of-row padding, applies BYTE-level
    filters (bpp=1), optional Adam7 pass splitting. ``samples`` is an
    (h, w) uint8 array of d-bit values (gray levels or palette
    indices)."""
    import struct
    import zlib

    import numpy as np

    h, w = samples.shape

    def pack_rows(arr):
        hh, ww = arr.shape
        per = 8 // depth
        pad = (-ww) % per
        a = np.pad(arr, ((0, 0), (0, pad)))
        bits = ((a[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1).reshape(
            hh, -1
        )
        return np.packbits(bits.astype(np.uint8), axis=1)

    def filt_scanlines(packed):
        out = bytearray()
        prev = np.zeros(packed.shape[1], dtype=np.int32)
        for y in range(packed.shape[0]):
            f = filters[y % len(filters)]
            line = packed[y].astype(np.int32)
            if f == 0:
                enc = line % 256
            elif f == 1:
                left = np.concatenate([np.zeros(1, np.int32), line[:-1]])
                enc = (line - left) % 256
            elif f == 2:
                enc = (line - prev) % 256
            elif f == 3:
                left = np.concatenate([np.zeros(1, np.int32), line[:-1]])
                enc = (line - ((left + prev) >> 1)) % 256
            else:
                left = np.concatenate([np.zeros(1, np.int32), line[:-1]])
                ul = np.concatenate([np.zeros(1, np.int32), prev[:-1]])
                pa = np.abs(prev - ul)
                pb = np.abs(left - ul)
                pc = np.abs(left + prev - 2 * ul)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, prev, ul))
                enc = (line - pred) % 256
            out.append(f)
            out.extend(enc.astype(np.uint8).tobytes())
            prev = line
        return out

    raw = bytearray()
    if interlace == 0:
        raw += filt_scanlines(pack_rows(samples))
    else:  # Adam7 pass order
        for (x0, y0, dx, dy) in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = samples[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            raw += filt_scanlines(pack_rows(sub))

    def chunk(typ, data):
        c = struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        return struct.pack(">I", len(data)) + typ + data + c

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    body = chunk(b"IHDR", ihdr)
    if palette is not None:
        body += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    body += chunk(b"IDAT", zlib.compress(bytes(raw)))
    body += chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


class TestSubBytePng:
    """r6 verdict missing #4: 1/2/4-bit grayscale and palette PNGs —
    round-tripped against the independent bit-packing encoder above."""

    @pytest.mark.parametrize("depth", [1, 2, 4])
    def test_gray_roundtrip_all_filters(self, depth):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        rng = np.random.default_rng(depth)
        # w=11: last byte of each row carries padding bits
        vals = rng.integers(0, 1 << depth, size=(7, 11), dtype=np.uint8)
        blob = _encode_png_subbyte(vals, depth, 0, filters=[0, 1, 2, 3, 4])
        got = png_decode_array(blob)
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (11, 7, 1)
        scale = 255 // ((1 << depth) - 1)
        assert np.array_equal(px[:, :, 0], vals * scale)

    def test_palette_4bit(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        rng = np.random.default_rng(44)
        idx = rng.integers(0, 16, size=(9, 13), dtype=np.uint8)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        blob = _encode_png_subbyte(idx, 4, 3, filters=[0, 2, 1],
                                   palette=pal)
        got = png_decode_array(blob)
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (13, 9, 3)
        assert np.array_equal(px, pal[idx])

    def test_1bit_adam7_interlaced(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        rng = np.random.default_rng(45)
        vals = rng.integers(0, 2, size=(10, 10), dtype=np.uint8)
        blob = _encode_png_subbyte(vals, 1, 0, filters=[0], interlace=1)
        got = png_decode_array(blob)
        assert got is not None
        w, h, ch, px = got
        assert (w, h, ch) == (10, 10, 1)
        assert np.array_equal(px[:, :, 0], vals * 255)

    def test_16bit_palette_still_refused(self):
        import struct
        import zlib

        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array

        def chunk(typ, data):
            c = struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            return struct.pack(">I", len(data)) + typ + data + c

        ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 3, 0, 0, 0)
        blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"PLTE", bytes(48))
                + chunk(b"IDAT", zlib.compress(bytes(4 * 9)))
                + chunk(b"IEND", b""))
        assert png_decode_array(blob) is None


class TestWavExtendedFormats:
    """r7: float PCM, 24-bit PCM, MS ADPCM — the rest of the real-world
    WAV matrix, verified against independent forward encoders."""

    @staticmethod
    def _wav(fmt_code, channels, rate, bits, balign, data):
        import struct

        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, fmt_code, channels,
                                        rate, rate * balign, balign, bits)
                + b"data" + struct.pack("<I", len(data)) + data)

    def test_float32_and_float64_pcm(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import wav_decode_array

        t = np.arange(800) / 8000.0
        sig = 0.4 * np.sin(2 * np.pi * 220 * t)
        for dt, bits in ((np.float32, 32), (np.float64, 64)):
            data = sig.astype(dt).tobytes()
            blob = self._wav(3, 1, 8000, bits, bits // 8, data)
            got = wav_decode_array(blob)
            assert got is not None, bits
            rate, mono = got
            assert rate == 8000
            assert np.allclose(mono, sig, atol=1e-6), bits

    def test_pcm24_exact(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import wav_decode_array

        rng = np.random.default_rng(51)
        vals = rng.integers(-(1 << 23), 1 << 23, size=500, dtype=np.int64)
        raw = bytearray()
        for v in vals:
            raw += int(v & 0xFFFFFF).to_bytes(3, "little")
        blob = self._wav(1, 1, 16000, 24, 3, bytes(raw))
        got = wav_decode_array(blob)
        assert got is not None
        rate, mono = got
        assert rate == 16000
        assert np.allclose(mono * (1 << 23), vals, atol=1e-6)

    @staticmethod
    def _ms_adpcm_encode(samples, block_samples=500, predictor=0):
        """Independent MS-ADPCM forward encoder (mono): quantizes the
        prediction residual to 4-bit codes, mirroring the spec's
        truncating arithmetic and delta adaptation."""
        import struct

        COEFS = [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
                 (460, -208), (392, -232)]
        ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
                 768, 614, 512, 409, 307, 230, 230, 230]

        def tdiv(a, b):
            q = abs(a) // b
            return -q if a < 0 else q

        c1, c2 = COEFS[predictor]
        out = bytearray()
        balign = None
        for b0 in range(0, len(samples) - block_samples + 1, block_samples):
            blk = samples[b0 : b0 + block_samples]
            s2, s1 = int(blk[0]), int(blk[1])
            delta = 512
            body = bytearray()
            body.append(predictor)
            body += struct.pack("<h", delta)
            body += struct.pack("<h", s1)
            body += struct.pack("<h", s2)
            nibbles = []
            for s in blk[2:]:
                p = tdiv(s1 * c1 + s2 * c2, 256)
                code = tdiv(int(s) - p, delta)
                code = max(-8, min(7, code))
                recon = max(-32768, min(32767, p + code * delta))
                nib = code & 0xF
                nibbles.append(nib)
                s2, s1 = s1, recon
                delta = max(16, tdiv(ADAPT[nib] * delta, 256))
            if len(nibbles) % 2:
                nibbles.append(0)
            for i in range(0, len(nibbles), 2):
                body.append((nibbles[i] << 4) | nibbles[i + 1])
            if balign is None:
                balign = len(body)
            out += body
        return bytes(out), balign

    def test_ms_adpcm_roundtrip(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import wav_decode_array

        rate = 8000
        t = np.arange(rate) / rate
        sig = 0.5 * np.sin(2 * np.pi * 220 * t) * np.abs(
            np.sin(2 * np.pi * 2 * t)
        )
        s16 = (sig * 32767).astype(np.int64)
        for predictor in (0, 1, 4):
            data, balign = self._ms_adpcm_encode(s16, predictor=predictor)
            blob = self._wav(2, 1, rate, 4, balign, data)
            got = wav_decode_array(blob)
            assert got is not None, predictor
            grate, mono = got
            assert grate == rate
            m = min(len(mono), len(sig))
            c = np.corrcoef(mono[:m], sig[:m])[0, 1]
            assert c > 0.99, f"predictor {predictor}: corr {c}"

    def test_extended_formats_report_decodable(self, spark):
        from datamancer_spark.operators.multimodal import (
            _wav_fmt_decodable,
        )

        assert _wav_fmt_decodable(3, 32) and _wav_fmt_decodable(3, 64)
        assert _wav_fmt_decodable(1, 24)
        assert _wav_fmt_decodable(2, 4)
        assert not _wav_fmt_decodable(3, 16)
        assert not _wav_fmt_decodable(85, 0)  # mp3-in-wav


class TestAiff:
    """r7 AIFF/AIFC: independent writer (own 80-bit extended-float rate
    encoding) round-tripped through the decoder."""

    @staticmethod
    def _ext80(rate):
        import struct

        # normalize rate into mantissa * 2^(exp-63) with explicit
        # integer bit set
        assert rate > 0
        exp = 16383 + 63
        mant = int(rate)
        while mant < 1 << 63:
            mant <<= 1
            exp -= 1
        while mant >= 1 << 64:
            mant >>= 1
            exp += 1
        return struct.pack(">HQ", exp, mant)

    @classmethod
    def _aiff(cls, samples, rate, bits=16, form=b"AIFF", comp=None,
              data=None, channels=1):
        import struct

        import numpy as np

        if data is None:
            dt = {8: ">i1", 16: ">i2", 32: ">i4"}[bits]
            data = np.asarray(samples).astype(dt).tobytes()
        nframes = (len(data) // max(1, bits // 8)) // channels
        comm_body = (struct.pack(">HIH", channels, nframes, bits)
                     + cls._ext80(rate))
        if comp is not None:
            comm_body += comp + b"\x00"  # fourcc + empty pascal name
        ssnd_body = struct.pack(">II", 0, 0) + data

        def chunk(cid, body):
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack(">I", len(body)) + body + pad

        payload = form + chunk(b"COMM", comm_body) + chunk(b"SSND", ssnd_body)
        return b"FORM" + struct.pack(">I", len(payload)) + payload

    def test_pcm16_be_roundtrip(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import aiff_decode_array

        t = np.arange(800) / 8000.0
        sig = (np.sin(2 * np.pi * 220 * t) * 12000).astype(np.int64)
        got = aiff_decode_array(self._aiff(sig, 8000))
        assert got is not None
        rate, mono = got
        assert rate == 8000
        assert np.allclose(mono * (1 << 15), sig, atol=1e-6)

    def test_sowt_and_fl32_aifc(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import aiff_decode_array

        t = np.arange(400) / 8000.0
        sig = 0.3 * np.sin(2 * np.pi * 330 * t)
        s16 = (sig * 32767).astype("<i2")
        blob = self._aiff(None, 8000, bits=16, form=b"AIFC",
                          comp=b"sowt", data=s16.tobytes())
        got = aiff_decode_array(blob)
        assert got is not None
        assert np.allclose(got[1], s16.astype(np.float64) / (1 << 15))

        f32 = sig.astype(">f4")
        blob = self._aiff(None, 44100, bits=32, form=b"AIFC",
                          comp=b"fl32", data=f32.tobytes())
        got = aiff_decode_array(blob)
        assert got is not None
        assert got[0] == 44100
        assert np.allclose(got[1], sig, atol=1e-6)

    def test_metadata_and_coverage(self, spark):
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            audio_container_metadata,
            audio_decode_array,
        )

        sig = (np.arange(16000) % 100).astype(np.int64)
        blob = self._aiff(sig, 16000)
        assert _classify_decode_tier(blob) == ("aiff", True)
        # compressed AIFC beyond the decoder (MACE) is metadata-only
        blob_mac = self._aiff(None, 16000, bits=16, form=b"AIFC",
                              comp=b"MAC6", data=b"\x00" * 64)
        assert _classify_decode_tier(blob_mac) == ("aiff", False)
        assert audio_decode_array(blob_mac) is None
        assert audio_decode_array(blob) is not None

        df = spark.createDataFrame(
            [("a.aiff", bytearray(blob))], "path string, content binary"
        )
        [row] = audio_container_metadata(df).collect()
        assert row["container"] == "aiff"
        assert row["sample_rate"] == 16000
        assert abs(row["duration_s"] - 1.0) < 1e-6
        assert row["decodable"] is True


class TestResizeImages:
    def test_thumbnail_roundtrip_and_null_policy(self, spark):
        """resize_images: exact-area means for a divisible grid, NULL
        for undecodable blobs, and the thumb is a decodable PNG."""
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            png_decode_array,
            resize_images,
        )

        # 32x32 block image: each 8x8 block constant -> 4x4 thumb exact
        rng = np.random.default_rng(61)
        blocks = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        blob = _encode_png(img, 2, [0])
        rows = [
            ("img.png", bytearray(blob)),
            ("junk.bin", bytearray(b"not an image")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {r["path"]: r for r in resize_images(df, width=4, height=4).collect()}
        r = got["img.png"]
        assert (r["width"], r["height"]) == (32, 32)
        w, h, ch, px = png_decode_array(bytes(r["thumb"]))
        assert (w, h, ch) == (4, 4, 3)
        assert np.array_equal(px, blocks)
        assert got["junk.bin"]["thumb"] is None
        assert got["junk.bin"]["width"] is None

    def test_exif_uprighting_applies_to_thumbnails(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import _decode_rgb
        from tests.test_jpeg import _with_exif_orientation, encode_jpeg

        img = np.zeros((16, 32), dtype=np.uint8)
        img[:, 16:] = 200  # right half bright
        # stored rotated 90 CCW, tagged orientation 6 (rotate CW to fix)
        stored = np.rot90(img, k=1)
        blob = _with_exif_orientation(
            encode_jpeg(np.ascontiguousarray(stored), quality=95), 6
        )
        px = _decode_rgb(blob)
        assert px.shape[:2] == (16, 32)  # upright dims restored
        assert px[:, 24:].mean() > px[:, :8].mean() + 100


class TestCurateMedia:
    def test_full_chain(self, spark):
        """Gate -> exact dedup -> perceptual dedup -> coverage: byte
        dup drops, perceptual dup (re-encoded same pixels) drops, tiny
        image gated out, novel image + unscreenable blob survive, and
        the coverage report reflects the survivors."""
        import numpy as np

        from datamancer_spark.operators.multimodal import curate_media

        rng = np.random.default_rng(71)
        pic = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
        other = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
        tiny = rng.integers(0, 256, size=(4, 4), dtype=np.uint8)
        rows = [
            ("a_pic.png", bytearray(_encode_png(pic, 0, [0]))),
            ("b_copy.png", bytearray(_encode_png(pic, 0, [0]))),   # byte dup
            ("c_reenc.png", bytearray(_encode_png(pic, 0, [2]))),  # perceptual dup
            ("d_other.png", bytearray(_encode_png(other, 0, [0]))),
            ("e_tiny.png", bytearray(_encode_png(tiny, 0, [0]))),  # gated
            ("f_blob.bin", bytearray(b"unscreenable payload")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        survivors, coverage = curate_media(df, min_width=8, min_height=8)
        kept = {r["path"] for r in survivors.collect()}
        assert kept == {"a_pic.png", "d_other.png", "f_blob.bin"}
        cov = {r["container"]: (r["n"], r["n_screenable"])
               for r in coverage.collect()}
        assert cov["png"] == (2, 2)
        assert cov["unknown"] == (1, 0)

    def test_radius0_fast_path_equals_pair_graph(self, spark):
        """max_hamming=0 takes the groupBy fast path (no pair join, no
        CC rounds); its survivor set must equal what the pair-graph
        composition (dhash_pairs -> dedup_keep_canonical) computes on
        the same frame — Hamming 0 is signature equality, so both are
        the min-id-per-equal-signature rule."""
        import numpy as np

        from datamancer_spark.operators.components import (
            dedup_keep_canonical,
        )
        from datamancer_spark.operators.multimodal import (
            curate_media,
            dhash,
            dhash_pairs,
        )

        rng = np.random.default_rng(73)
        pics = [
            rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
            for _ in range(3)
        ]
        rows = []
        for j, pic in enumerate(pics):
            # two perceptual dups per picture (different filter -> new
            # bytes, same pixels) + one opaque blob per set
            rows.append((f"p{j}_a.png", bytearray(_encode_png(pic, 0, [0]))))
            rows.append((f"p{j}_b.png", bytearray(_encode_png(pic, 0, [2]))))
        rows.append(("z.bin", bytearray(b"unscreenable")))
        df = spark.createDataFrame(rows, "path string, content binary")

        fast, _ = curate_media(df, max_hamming=0)
        got = {r["path"] for r in fast.collect()}

        pairs = dhash_pairs(df, max_hamming=0)
        want = {
            r["path"]
            for r in dedup_keep_canonical(df, pairs, id_col="path").collect()
        }
        assert got == want
        assert got == {"p0_a.png", "p1_a.png", "p2_a.png", "z.bin"}

    def test_dimension_gate_spares_unknown_dims(self, spark):
        """The dims gate drops only PROVABLY undersized images: blobs
        whose dims are unknown (audio, opaque payloads) survive — the
        never-silently-drop-the-unreadable rule the screens follow."""
        import numpy as np

        from datamancer_spark.operators.multimodal import curate_media

        tiny = np.zeros((4, 4), dtype=np.uint8)
        df = spark.createDataFrame(
            [("x.bin", bytearray(b"opaque")),
             ("t.png", bytearray(_encode_png(tiny, 0, [0])))],
            "path string, content binary",
        )
        survivors, _ = curate_media(df, min_width=8)
        assert {r["path"] for r in survivors.collect()} == {"x.bin"}


class TestAifcIma4:
    @staticmethod
    def _ima4_encode(samples):
        """Independent Apple-IMA4 forward encoder (mono): standard IMA
        quantizer, 64-sample packets with the BE preamble carrying the
        current predictor's top 9 bits + step index."""
        import numpy as np

        STEPS = [
            7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
            34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
            143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
            449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
            1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
            3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
            9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
            22385, 24623, 27086, 29794, 32767,
        ]
        IDX = [-1, -1, -1, -1, 2, 4, 6, 8]
        pred, idx = 0, 0
        out = bytearray()
        n = (len(samples) // 64) * 64
        for p0 in range(0, n, 64):
            pre = ((pred & 0xFF80) & 0xFFFF) | idx
            out += int(pre).to_bytes(2, "big")
            nibs = []
            for s in samples[p0 : p0 + 64]:
                step = STEPS[idx]
                diff = int(s) - pred
                nib = 0
                if diff < 0:
                    nib = 8
                    diff = -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                # reconstruct exactly like the decoder
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = pred - d if nib & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + IDX[nib & 7]))
                nibs.append(nib)
            for i in range(0, 64, 2):
                out.append(nibs[i] | (nibs[i + 1] << 4))  # low nib first
        return bytes(out)

    def test_ima4_roundtrip(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import aiff_decode_array

        rate = 8000
        t = np.arange(rate) / rate
        sig = 0.5 * np.sin(2 * np.pi * 220 * t) * np.abs(
            np.sin(2 * np.pi * 2 * t)
        )
        s16 = (sig * 32767).astype(np.int64)
        data = self._ima4_encode(s16)
        blob = TestAiff._aiff(None, rate, bits=16, form=b"AIFC",
                              comp=b"ima4", data=data)
        got = aiff_decode_array(blob)
        assert got is not None
        grate, mono = got
        assert grate == rate
        m = min(len(mono), len(sig))
        c = np.corrcoef(mono[:m], sig[:m])[0, 1]
        assert c > 0.99, f"ima4 corr {c}"


class TestCurateAudio:
    def test_full_chain(self, spark):
        """Duration gate -> exact dedup -> perceptual dedup (WAV vs
        FLAC twin of the same clip) -> coverage over survivors."""
        import struct

        import numpy as np

        from datamancer_spark.operators.multimodal import curate_audio
        from tests.test_flac import encode_flac

        rate = 8000
        t = np.arange(rate) / rate
        clip = (np.sin(2 * np.pi * 220 * t)
                * np.abs(np.sin(2 * np.pi * 3 * t)) * 16000).astype(np.int64)
        other = (np.sin(2 * np.pi * 700 * t)
                 * np.abs(np.cos(2 * np.pi * 11 * t + 1)) * 14000
                 ).astype(np.int64)
        short = clip[:400]  # 0.05 s -> gated

        def wav16(sig):
            d = sig.astype(np.int16).tobytes()
            return (b"RIFF" + struct.pack("<I", 36 + len(d)) + b"WAVE"
                    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                            rate * 2, 2, 16)
                    + b"data" + struct.pack("<I", len(d)) + d)

        mp3 = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 64000
        rows = [
            ("a_clip.wav", bytearray(wav16(clip))),
            ("b_copy.wav", bytearray(wav16(clip))),          # byte dup
            ("c_clip.flac", bytearray(encode_flac([list(clip)],
                                                  rate=rate))),  # perceptual dup
            ("d_other.wav", bytearray(wav16(other))),
            ("e_short.wav", bytearray(wav16(short))),        # gated
            ("f_song.mp3", bytearray(mp3)),                  # unscreenable, kept
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        survivors, coverage = curate_audio(df, min_duration_s=0.5)
        kept = {r["path"] for r in survivors.collect()}
        assert kept == {"a_clip.wav", "d_other.wav", "f_song.mp3"}
        cov = {r["container"]: (r["n"], r["n_screenable"])
               for r in coverage.collect()}
        assert cov["wav"] == (2, 2)
        assert cov["mp3"] == (1, 0)


class TestReviewFixes:
    """r7 self-review findings, pinned."""

    def test_corrupt_extended80_rate_never_raises(self):
        import struct

        from datamancer_spark.operators.multimodal import (
            _aiff_comm,
            _read_extended80,
            aiff_decode_array,
            audio_decode_array,
        )

        # huge exponent previously raised OverflowError in 2.0**exp
        bad80 = struct.pack(">HQ", 0x7FFE, 1 << 63)
        assert _read_extended80(bad80) == 0.0
        comm = (struct.pack(">HIH", 1, 100, 16) + bad80)
        blob = (b"FORM" + struct.pack(">I", 4 + 8 + len(comm))
                + b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm)
        assert _aiff_comm(blob) is None
        assert aiff_decode_array(blob) is None
        assert audio_decode_array(blob) is None

    def test_aiff_magic_beats_mp3_heuristic(self, spark):
        """BE 16-bit PCM routinely contains 0xFFEx byte pairs; the
        FORM magic must classify the clip as aiff, never as a false
        mp3 sync hit."""
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
        )

        rng = np.random.default_rng(81)
        # force guaranteed false-sync bytes into the sample data
        sig = np.full(2000, -1, dtype=np.int64)  # 0xFFFF everywhere
        blob = TestAiff._aiff(sig, 8000)
        df = spark.createDataFrame(
            [("n.aiff", bytearray(blob))], "path string, content binary"
        )
        [row] = audio_container_metadata(df).collect()
        assert row["container"] == "aiff"
        assert row["sample_rate"] == 8000

    def test_mp3_xing_offset_with_crc_protection(self):
        from datamancer_spark.operators.multimodal import mp3_header_info

        # protection bit 0 (0xFA): 2-byte CRC precedes the side info
        frame_hdr = bytes([0xFF, 0xFA, 0x90, 0x00])
        crc = b"\x00\x00"
        side = b"\x00" * 32
        xing = (b"Xing" + (1).to_bytes(4, "big")
                + (500).to_bytes(4, "big"))
        blob = frame_hdr + crc + side + xing
        blob += b"\x00" * (30000 - len(blob))
        got = mp3_header_info(blob)
        assert got is not None
        assert abs(got[3] - 500 * 1152 / 44100) < 1e-6

    def test_curate_gates_respect_id_col(self, spark):
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            curate_audio,
            curate_media,
        )

        img = np.zeros((16, 16), dtype=np.uint8)
        df = spark.createDataFrame(
            [("d1", bytearray(_encode_png(img, 0, [0])))],
            "doc_id string, content binary",
        )
        surv, _ = curate_media(df, id_col="doc_id", min_width=8)
        assert surv.count() == 1
        surv2, _ = curate_audio(df, id_col="doc_id", min_duration_s=0.1)
        assert surv2.count() == 1  # unknown duration survives the gate


class TestMp3SampleDecode:
    """Late r7: MPEG-1 Layer I/III streams decode to SAMPLES via
    operators/mpegaudio.py — mp3 clips join the perceptual screens
    (before: metadata-only). Fixtures come from the independent
    tests/mpeg_encoder.py."""

    @staticmethod
    def _clip(seconds=3, rate=44100):
        import numpy as np

        t = np.arange(int(seconds * rate)) / rate
        return (np.sin(2 * np.pi * 220 * t)
                * np.abs(np.sin(2 * np.pi * 3 * t)) * 0.5)

    @staticmethod
    def _wav16(sig, rate):
        import struct

        import numpy as np

        d = (np.asarray(sig) * 32000).astype(np.int16).tobytes()
        return (b"RIFF" + struct.pack("<I", 36 + len(d)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                        rate * 2, 2, 16)
                + b"data" + struct.pack("<I", len(d)) + d)

    def test_audio_decode_array_mp3(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            audio_decode_array,
        )
        from tests.mpeg_encoder import encode_layer3

        sig = self._clip()
        got = audio_decode_array(encode_layer3([sig], 44100))
        assert got is not None
        rate, mono = got
        assert rate == 44100
        n = min(len(mono), len(sig))
        c = np.corrcoef(mono[:n], sig[:n])[0, 1]
        assert c > 0.99, c

    def test_cross_codec_dhash_wav_vs_mp3_and_layer1(self):
        """The SAME clip through WAV, MP3 (Layer III) and Layer I must
        fingerprint within 2 bits (measured 0); unrelated content
        stays ~32 bits away."""
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            audio_decode_array,
            audio_dhash64,
        )
        from tests.mpeg_encoder import encode_layer1, encode_layer3

        rate = 44100
        sig = self._clip()
        t = np.arange(3 * rate) / rate
        other = (np.sin(2 * np.pi * 700 * t)
                 * np.abs(np.cos(2 * np.pi * 11 * t + 1)) * 0.5)

        def h(blob):
            dec = audio_decode_array(blob)
            assert dec is not None
            return audio_dhash64(dec[1]) % (1 << 64)

        hw = h(self._wav16(sig, rate))
        h3 = h(encode_layer3([sig], rate))
        h1 = h(encode_layer1([sig], rate))
        ho = h(self._wav16(other, rate))
        assert bin(hw ^ h3).count("1") <= 2
        assert bin(hw ^ h1).count("1") <= 2
        assert bin(hw ^ ho).count("1") > 20

    def test_audio_features_mp3(self, spark):
        from datamancer_spark.operators.multimodal import audio_features
        from tests.mpeg_encoder import encode_layer3

        blob = encode_layer3([self._clip()], 44100)
        df = spark.createDataFrame(
            [("song.mp3", bytearray(blob))], "path string, content binary"
        )
        [row] = audio_features(df).collect()
        assert row["sample_rate"] == 44100
        assert abs(row["duration_s"] - 3.0) < 0.05
        assert row["loudness"] is not None
        assert max(row["loudness"]) > 0

    def test_metadata_decodable_and_coverage(self, spark):
        """audio_container_metadata.decodable and the coverage report
        flip to True for supported MPEG streams; an ESC-table stream
        stays False."""
        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
            media_decode_coverage,
        )
        from tests.mpeg_encoder import encode_layer3
        from tests.test_mpegaudio import _frame_with_table_select

        good = encode_layer3([self._clip(seconds=1)], 44100)
        esc = _frame_with_table_select(16)
        df = spark.createDataFrame(
            [("good.mp3", bytearray(good)), ("esc.mp3", bytearray(esc))],
            "path string, content binary",
        )
        got = {r["path"]: r for r in audio_container_metadata(df).collect()}
        assert got["good.mp3"]["container"] == "mp3"
        assert got["good.mp3"]["decodable"] is True
        assert got["esc.mp3"]["decodable"] is False
        cov = {r["container"]: (r["n"], r["n_screenable"])
               for r in media_decode_coverage(df).collect()}
        assert cov["mp3"] == (2, 1)

    def test_curate_audio_dedups_mp3_twin(self, spark):
        """An mp3 re-encode of a wav clip is now a PERCEPTUAL DUP the
        curation pipeline removes (it previously survived as
        unscreenable)."""
        from datamancer_spark.operators.multimodal import curate_audio
        from tests.mpeg_encoder import encode_layer3

        rate = 44100
        sig = self._clip()
        import numpy as np

        t = np.arange(3 * rate) / rate
        other = (np.sin(2 * np.pi * 700 * t)
                 * np.abs(np.cos(2 * np.pi * 11 * t + 1)) * 0.5)
        rows = [
            ("a_clip.wav", bytearray(self._wav16(sig, rate))),
            ("b_clip.mp3", bytearray(encode_layer3([sig], rate))),
            ("c_other.wav", bytearray(self._wav16(other, rate))),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        survivors, coverage = curate_audio(df, min_duration_s=0.5)
        kept = {r["path"] for r in survivors.collect()}
        assert kept == {"a_clip.wav", "c_other.wav"}
        cov = {r["container"]: (r["n"], r["n_screenable"])
               for r in coverage.collect()}
        assert cov["wav"] == (2, 2)


class TestTruncatedContainerGuards:
    """ADVICE r7: a truncated WAV whose fmt chunk header claims
    ln >= 16 but whose blob ends before the 16 fmt bytes must
    classify/describe as undecodable, never raise (one corrupt blob
    must not kill a mapInPandas task)."""

    def _truncated_wav(self) -> bytes:
        import struct

        # RIFF/WAVE + 'fmt ' header declaring 16 bytes, then only 6
        # bytes of body before EOF
        body = struct.pack("<HHH", 1, 1, 0)  # 6 of the promised 16
        blob = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + body
        )
        return blob

    def test_classify_decode_tier_truncated_wav(self):
        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
        )

        assert _classify_decode_tier(self._truncated_wav()) == (
            "wav", False,
        )

    def test_metadata_and_coverage_truncated_wav(self, spark):
        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
            media_decode_coverage,
        )

        df = spark.createDataFrame(
            [("trunc.wav", bytearray(self._truncated_wav()))],
            "path string, content binary",
        )
        [row] = audio_container_metadata(df).collect()
        assert row["container"] == "wav"
        assert row["decodable"] is False
        [cov] = media_decode_coverage(df).collect()
        assert cov["container"] == "wav"
        assert (cov["n"], cov["n_screenable"]) == (1, 0)


class TestRealBmpDecode:
    """r9 BMP pixel decode (multimodal.bmp_decode_array) — round-trips
    against an independent minimal writer (BITMAPFILEHEADER +
    BITMAPINFOHEADER built here, never the decoder's code)."""

    @staticmethod
    def _encode(px=None, bpp=24, top_down=False, palette=None, idx=None,
                comp=0, masks=None):
        import struct

        import numpy as np

        if bpp in (24, 32):
            h, w = px.shape[:2]
        else:
            h, w = idx.shape
        stride = ((w * bpp + 31) // 32) * 4
        rows = bytearray()
        order = range(h) if top_down else range(h - 1, -1, -1)
        for y in order:
            if bpp == 24:
                line = px[y][:, ::-1].tobytes()  # RGB -> BGR
            elif bpp == 32:
                bgza = np.zeros((w, 4), dtype=np.uint8)
                bgza[:, :3] = px[y][:, ::-1]
                line = bgza.tobytes()
            elif bpp == 8:
                line = idx[y].tobytes()
            elif bpp == 4:
                pairs = idx[y]
                if len(pairs) % 2:
                    pairs = np.concatenate([pairs, [0]])
                line = ((pairs[0::2] << 4) | pairs[1::2]).astype(
                    np.uint8).tobytes()
            else:  # 1-bit
                line = np.packbits(idx[y]).tobytes()
            rows += line + b"\x00" * (stride - len(line))
        pal_bytes = b""
        n_pal = 0
        if palette is not None:
            n_pal = len(palette)
            for r, g, b in palette:
                pal_bytes += bytes([b, g, r, 0])
        extra = b""
        hdr_size = 40
        if masks is not None:
            hdr_size = 52
            extra = struct.pack("<III", *masks)
        data_off = 14 + hdr_size + len(pal_bytes)
        info = struct.pack(
            "<IiiHHIIiiII", hdr_size, w, -h if top_down else h, 1, bpp,
            comp, len(rows), 2835, 2835, n_pal, 0,
        ) + extra
        filehdr = (b"BM" + struct.pack("<I", data_off + len(rows))
                   + b"\x00\x00\x00\x00" + struct.pack("<I", data_off))
        return bytes(filehdr + info + pal_bytes + rows)

    def test_truecolor_round_trip(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import bmp_decode_array

        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # odd w
        for top_down in (False, True):
            got = bmp_decode_array(self._encode(px, 24, top_down))
            assert got is not None
            w, h, ch, out = got
            assert (w, h, ch) == (7, 5, 3)
            assert np.array_equal(out, px)
        got32 = bmp_decode_array(self._encode(px, 32))
        assert np.array_equal(got32[3], px)
        # BITFIELDS with the default 8888 masks decodes like BI_RGB
        gotbf = bmp_decode_array(self._encode(
            px, 32, comp=3, masks=(0x00FF0000, 0x0000FF00, 0x000000FF)))
        assert np.array_equal(gotbf[3], px)

    def test_palette_depths(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import bmp_decode_array

        rng = np.random.default_rng(11)
        pal = [tuple(int(v) for v in rng.integers(0, 256, 3))
               for _ in range(16)]
        for bpp, n in ((8, 16), (4, 16), (1, 2)):
            idx = rng.integers(0, n if bpp > 1 else 2,
                               size=(6, 11), dtype=np.uint8)
            blob = self._encode(bpp=bpp, palette=pal[:n], idx=idx)
            got = bmp_decode_array(blob)
            assert got is not None, bpp
            w, h, ch, out = got
            assert (w, h) == (11, 6)
            expect = np.array([[pal[i] for i in row] for row in idx],
                              dtype=np.uint8)
            assert np.array_equal(out, expect), bpp

    def test_refusals_and_classify(self):
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            bmp_decode_array,
        )

        px = np.zeros((4, 4, 3), dtype=np.uint8)
        ok = self._encode(px, 24)
        assert _classify_decode_tier(ok) == ("bmp", True)
        rle = self._encode(px, 24, comp=1)
        assert bmp_decode_array(rle) is None
        assert _classify_decode_tier(rle) == ("bmp", False)
        weird_masks = self._encode(
            px, 32, comp=3, masks=(0xF800, 0x07E0, 0x001F))
        assert bmp_decode_array(weird_masks) is None
        assert bmp_decode_array(ok[:40]) is None  # truncated
        trunc_px = ok[: len(ok) - 8]  # declared rows missing
        assert bmp_decode_array(trunc_px) is None

    def test_decode_images_and_dhash_integration(self, spark):
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            decode_images,
            dhash,
        )

        rng = np.random.default_rng(13)
        px = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [("a", bytearray(self._encode(px, 24)))],
            "path string, content binary",
        )
        [row] = decode_images(df).collect()
        assert (row["width"], row["height"], row["channels"]) == (24, 24, 3)
        assert row["mean_intensity"] == round(float(px.mean()) / 255.0, 6)
        [hrow] = dhash(df).collect()
        assert hrow["dhash"] is not None


def _mutations(blob: bytes, rng, n: int):
    """``n`` seeded corruptions of ``blob``, cycling truncation, 1-4
    byte flips and 1-8 byte inserts."""
    for k in range(n):
        b = bytearray(blob)
        if k % 3 == 0:
            yield bytes(b[: rng.randrange(1, len(b))])
        elif k % 3 == 1:
            for _ in range(rng.randint(1, 4)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            yield bytes(b)
        else:
            at = rng.randrange(len(b) + 1)
            ins = bytes(rng.randrange(256) for _ in range(rng.randint(1, 8)))
            yield bytes(b[:at]) + ins + bytes(b[at:])


def _mp3_zero_region_witness() -> bytes:
    """A one-frame MP3 whose side info selects the refused table 30 for
    a big_values region of ZERO pairs — a table the decoder never
    reads (byte 11 sits in the first granule's table_select bits)."""
    from datamancer_spark.operators.fixtures import mp3_ws_blob

    b = bytearray(mp3_ws_blob(0))
    b[11] = 0xFF
    return bytes(b)


def _wav_two_fmt_witness() -> bytes:
    """A WAVE whose first ``fmt `` chunk names MPEG (0x55) and whose
    second names PCM-16: the LAST fmt chunk is the one that decodes."""
    import struct

    import numpy as np

    pcm = (np.sin(np.arange(800) / 5.0) * 9000).astype("<i2").tobytes()

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body

    body = (b"WAVE"
            + chunk(b"fmt ", struct.pack("<HHIIHH", 0x55, 1, 8000, 2000, 1, 0))
            + chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
            + chunk(b"data", pcm))
    return b"RIFF" + struct.pack("<I", len(body)) + body


class TestFormatTableContract:
    """The coverage tier never under-reports: ``screenable`` False
    means the decoders return None, on real fixtures and on seeded
    corruptions of them."""

    def test_screenable_false_never_decodes(self):
        import random

        from datamancer_spark.operators import fixtures as fx
        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            audio_decode_array,
            decode_image_blob,
        )

        gens = [
            fx.solid_png_blob, fx.pattern_png_blob, fx.wav_const_blob,
            fx.wav_dhash_blob, fx.wav_truncated_blob, fx.ogg_stub_blob,
            fx.mp4_stub_blob, fx.mp3_ws_blob, fx.ogg_vorbis_blob,
            fx.solid_bmp_blob, fx.solid_tiff_blob, fx.bmp_exact_blob,
            fx.tiff_exact_blob, fx.webp_exact_blob, fx.webp_grad_blob,
            fx.adts_aac_blob,
        ]
        corpus = [_mp3_zero_region_witness(), _wav_two_fmt_witness()]
        for gen in gens:
            rng = random.Random(gen.__name__)
            for i in range(4):
                base = gen(i)
                corpus.append(base)
                corpus.extend(_mutations(base, rng, 24))
        assert len(corpus) == 2 + 16 * 4 * 25
        under = []
        for blob in corpus:
            container, screenable = _classify_decode_tier(blob)
            if screenable:
                continue
            if decode_image_blob(blob) is not None or (
                audio_decode_array(blob) is not None
            ):
                under.append((container, blob[:16]))
        assert under == []

    def test_mp3_table_in_zero_length_region_is_not_read(self):
        from datamancer_spark.operators.mpegaudio import mpeg_stream_supported
        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            audio_decode_array,
        )

        blob = _mp3_zero_region_witness()
        rate, mono = audio_decode_array(blob)
        assert (rate, len(mono)) == (44100, 1183)
        assert mpeg_stream_supported(blob)
        assert _classify_decode_tier(blob) == ("mp3", True)

    def test_wav_last_fmt_chunk_decides(self, spark):
        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
            audio_decode_array,
            media_decode_coverage,
        )

        blob = _wav_two_fmt_witness()
        rate, mono = audio_decode_array(blob)
        assert (rate, len(mono)) == (8000, 800)
        df = spark.createDataFrame(
            [("w.wav", bytearray(blob))], "path string, content binary"
        )
        [row] = audio_container_metadata(df).collect()
        assert (row["container"], row["decodable"]) == ("wav", True)
        assert (row["sample_rate"], row["bits_per_sample"]) == (8000, 16)
        [cov] = media_decode_coverage(df).collect()
        assert (cov["container"], cov["n"], cov["n_screenable"]) == (
            "wav", 1, 1)

    def test_mp3_behind_junk_prefix_is_mp3_and_decodable(self, spark):
        """An MP3 with junk bytes before its first frame is found by the
        decoder's own first-frame scan, so the table calls it mp3 and
        decodable, as the decoder decodes it."""
        from datamancer_spark.operators.fixtures import mp3_ws_blob
        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            audio_container_metadata,
            audio_decode_array,
        )

        blobs = [
            bytes.fromhex(head) + mp3_ws_blob(i)
            for i, head in enumerate(["a68347", "efa17786", "dbe8e636"])
        ]
        for blob in blobs:
            rate, mono = audio_decode_array(blob)
            assert (rate, len(mono)) == (44100, 1183)
            assert _classify_decode_tier(blob) == ("mp3", True)
        df = spark.createDataFrame(
            [(str(i), bytearray(b)) for i, b in enumerate(blobs)],
            "path string, content binary",
        )
        got = {(r["container"], r["decodable"], r["sample_rate"])
               for r in audio_container_metadata(df).collect()}
        assert got == {("mp3", True, 44100)}

    def test_avi_frames_follow_the_fourcc(self):
        """JPEG frames behind a non-MJPG fourcc are refused, as the
        coverage tier reports them."""
        import numpy as np

        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            avi_mjpeg_frames,
        )
        from tests.test_jpeg import _encode_avi_mjpeg, encode_jpeg

        frame = encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))
        h264 = _encode_avi_mjpeg([frame], 8, 8, fourcc=b"H264")
        assert _classify_decode_tier(h264) == ("avi", False)
        assert list(avi_mjpeg_frames(h264)) == []
        mjpg = _encode_avi_mjpeg([frame], 8, 8)
        assert [f[0] for f in avi_mjpeg_frames(mjpg)] == [0]

    def test_aifc_g711_decodes_at_any_rate_times_channels(self):
        """AIFC A-law shares the WAV path's expansion directly; a rate
        times channel count past 2**32 once overflowed the WAV header
        it was re-wrapped in, and the decode raised."""
        from datamancer_spark.operators.multimodal import audio_decode_array

        blob = TestAiff._aiff(None, 9_000_000, bits=8, form=b"AIFC",
                              comp=b"alaw", data=bytes(800), channels=600)
        rate, mono = audio_decode_array(blob)
        assert (rate, len(mono)) == (9_000_000, 1)

    def test_gif_lzw_root_over_8_bits_yields_nothing(self):
        from datamancer_spark.operators.multimodal import (
            decode_image_blob,
            gif_decode_frames,
        )

        blob = _encode_gif([bytes(4)], TestRealGifDecode.PAL4, 2, 2)
        lzw_at = blob.index(b"\x2c") + 10  # image descriptor, no LCT
        bad = blob[:lzw_at] + bytes([11]) + blob[lzw_at + 1 :]
        assert list(gif_decode_frames(bad)) == []
        assert decode_image_blob(bad) is None
        assert decode_image_blob(blob) is not None
