"""Multimodal (image/audio/video) column support.

Design (north star: treat media as opaque ``binary`` columns with typed
metadata): ingestion via Spark's native ``binaryFile`` source, metadata
extraction as pure Catalyst expressions over the bytes (magic sniffing,
sizes), and decode/feature stages as Arrow-batched ``mapInPandas``
pipelines.

One format table, ``_FORMATS``, has a row per container: its magic
test, ``sniff_kind`` label, media kind, header capability walk, decode,
audio metadata and frame sampler. ``sniff_kind``, the coverage tier
(``media_decode_coverage``), ``decode_image_blob``,
``audio_decode_array`` and ``audio_container_metadata`` all dispatch
through it, so each magic test exists once and the ``screenable`` /
``decodable`` answer is the same function everywhere: False means the
decode returns None.

- **Header metadata — REAL.** Container headers are plain bytes:
  ``image_dimensions`` (PNG/GIF/BMP/WebP in pure Catalyst, JPEG/TIFF via
  stdlib walks) and ``audio_container_metadata`` parse actual on-disk
  formats with no codec library.
- **Pixel/sample decode — REAL for every image format plus PCM and the
  table-driven audio codecs, refused only where a codec is genuinely
  unavoidable.** PNG, baseline/progressive JPEG (``jpegcodec``), GIF
  (stdlib LZW), BMP, TIFF (``tiffcodec``), lossless WebP
  (``webpcodec``), MJPEG-in-AVI frames, WAV (PCM/float/G.711/ADPCM),
  AIFF/AIFC, FLAC (``flaccodec``), MPEG-1 Layer I/III (``mpegaudio``)
  and Ogg Vorbis (``vorbiscodec``) decode for real. Compressed video
  (mp4/webm, non-MJPEG AVI), Ogg Opus and ADTS-AAC need a codec — those
  rows yield NULLs and ``media_decode_coverage`` reports the fraction
  left undecoded.

  Why Opus stays refused while Vorbis decodes: Opus is NOT
  self-describing — CELT's PVQ band probability model and SILK's
  LTP/LSF codebooks are large spec-constant PDF tables driving a range
  coder, with no Kraft-style structural self-check (a range coder
  accepts ANY probability table and silently decodes plausible noise
  from a wrong one). Same gate failure as the MP3 ESC tables
  (``mpeghuff.py``) and the video codecs' probability tables (VP8's
  coefficient probabilities, H.264's CAVLC tables / CABAC
  initializers); metadata (rate/channels/duration via the Ogg
  page walk) stays real.

Scale notes: binary payloads never shuffle — every stage here is
narrow (mapInPandas over the scan); only extracted features (small
structs) flow into joins/aggregations downstream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .flaccodec import flac_decode_array
from .jpegcodec import jpeg_decode_array
from .mpegaudio import (
    _first_frame,
    _skip_id3,
    mpeg_audio_decode_array,
    mpeg_stream_supported,
    parse_frame_header,
)
from .tiffcodec import tiff_decode_array, tiff_supported
from .vorbiscodec import vorbis_decode_array, vorbis_stream_supported
from .webpcodec import vp8l_decode_array, webp_supported

# -- metadata (pure Catalyst expressions, no Python) -------------------------

def sniff_kind(bin_col: F.Column) -> F.Column:
    """Media-kind detection from magic bytes — Catalyst-only (substring on
    binary + hex compare), evaluated next to the scan. The labels are
    ``MAGIC_KINDS``, built from the rows of the format table
    (``_FORMATS``)."""
    head = F.hex(F.substring(bin_col, 1, 4))
    expr = F.lit("application/octet-stream")
    for magic, kind in reversed(MAGIC_KINDS):
        prefix = magic.hex().upper()
        expr = F.when(head.startswith(F.lit(prefix)), F.lit(kind)).otherwise(expr)
    return expr


def media_decode_coverage(df: DataFrame, bin_col: str = "content") -> DataFrame:
    """Per-container decode-coverage report (r6 advice #8): what
    fraction of each media container this engine can actually SCREEN —
    produce pixels/samples for perceptual (dHash) dedup — versus
    metadata-only. A pipeline that runs
    ``dhash_pairs`` must report "N% of blobs
    screenable" instead of silently screening the decodable minority.

    Screenability is the matching ``_FORMATS`` row's ``capable``
    header walk (no full decode attempt): PNG/JPEG/GIF images →
    pixels; BMP when uncompressed (RLE refuses); TIFF and lossless WebP
    when their profile walks pass; WAV when the last ``fmt `` chunk
    names a code the decoder handles (PCM/float/G.711/MS+IMA ADPCM);
    FLAC; AIFF/AIFC by compression fourcc; MP3 when every frame's side
    info stays inside the MPEG-1 Layer I/III feature set
    (``mpegaudio.mpeg_stream_supported``); Ogg Vorbis when the setup
    header parses (``vorbiscodec.vorbis_stream_supported``); MJPEG AVI
    by its stream fourcc. Ogg Opus, ADTS-AAC, MP4, WebM and lossy WebP
    are metadata only.

    The contract: ``screenable`` False means the row's decode
    (``decode_image_blob`` / ``audio_decode_array``) returns None — the
    report never under-counts what the dHash screen hashes. True may
    still decode to None: the walk reads headers, so a payload
    truncated or corrupted mid-stream over-reports. Output:
    (container, n, n_screenable, screenable_frac), one small row per
    container — aggregate-only, nothing corpus-sized moves."""
    from ..functions.rounding import prnd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [_classify_decode_tier(bytes(b)) for b in pdf[bin_col]],
                columns=["container", "screenable"],
            )

    rows = df.select(bin_col).mapInPandas(
        batches,
        StructType(
            [
                StructField("container", StringType()),
                StructField("screenable", BooleanType()),
            ]
        ),
    )
    return (
        rows.groupBy("container")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("screenable").cast("long"))
            .cast("long")
            .alias("n_screenable"),
        )
        .select(
            "container",
            "n",
            "n_screenable",
            prnd(F.col("n_screenable") / F.col("n"), 6).alias(
                "screenable_frac"
            ),
        )
    )


# -- decode / feature extraction (Arrow batch pipelines) ---------------------

DECODE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_intensity", DoubleType()),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px


def png_decode_array(blob: bytes):
    """Pure-stdlib PNG pixel decode returning the PIXELS: zlib-inflate
    the IDAT stream and invert the per-scanline filters
    (None/Sub/Up/Average/Paeth) per the PNG spec §9. Supports every
    legal depth — 8/16-bit everywhere (16-bit downsampled to the high
    byte) and the sub-byte 1/2/4-bit packings for grayscale (scaled to
    8-bit) and palette (r7; bit-unpacked MSB-first per spec §7.2) —
    Adam7 interlacing, and all five color types (gray, RGB, palette,
    gray+alpha, RGBA): the COMPLETE baseline PNG profile matrix.
    Returns ``(width, height, channels, pixels)`` with pixels an
    (h, w, channels) uint8 ndarray — alpha dropped, palette expanded
    through PLTE to RGB — or ``None`` for non-PNG / malformed input.
    ``decode_images`` and ``dhash`` consume the array through
    ``decode_image_blob``."""
    import struct
    import zlib

    import numpy as np

    if len(blob) < 33 or blob[:8] != _PNG_SIG:
        return None
    pos, idat, meta, plte = 8, [], None, None
    try:
        while pos + 8 <= len(blob):
            ln, typ = struct.unpack(">I4s", blob[pos : pos + 8])
            data = blob[pos + 8 : pos + 8 + ln]
            if len(data) < ln:
                return None
            if typ == b"IHDR":
                meta = struct.unpack(">IIBBBBB", data)
            elif typ == b"PLTE":
                plte = data
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            pos += 12 + ln  # len + type + data + crc
        if meta is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = meta
        nch = _PNG_CHANNELS.get(ctype)
        # sub-byte depths (1/2/4) are legal for grayscale and palette
        # only (spec 11.2.2); 16-bit palette does not exist
        depth_ok = depth in (8, 16) or (
            depth in (1, 2, 4) and ctype in (0, 3)
        )
        if (
            not depth_ok or interlace not in (0, 1)
            or comp != 0 or filt != 0
            or nch is None or w == 0 or h == 0
            or (ctype == 3 and depth == 16)
        ):
            return None
        raw = zlib.decompress(b"".join(idat))
    except Exception:
        return None
    sub_byte = depth < 8
    # filtering operates on BYTES: for sub-byte depths the left
    # neighbor is the previous byte (bpp=1), spec 9.2
    bpp = 1 if sub_byte else nch * (depth // 8)

    def unfilter(off: int, wpx: int, hpx: int):
        """Invert scanline filters for one (sub)image starting at byte
        ``off``; returns (bytes_consumed, (hpx, stride) uint8 array)
        or None on malformed input. stride is the FILTERED byte width:
        bit-packed for sub-byte depths (ceil(wpx*nch*depth/8))."""
        stride = (
            (wpx * nch * depth + 7) // 8 if sub_byte else wpx * bpp
        )
        if len(raw) - off < hpx * (stride + 1):
            return None
        sub = np.empty((hpx, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.intc)
        p = off
        for y in range(hpx):
            f = raw[p]
            line = bytearray(raw[p + 1 : p + 1 + stride])
            p += 1 + stride
            if f == 1:  # Sub: left-pixel running sum = per-channel
                # cumsum mod 256 (vectorized; 0.08s -> ~0 on 512² RGB).
                # Average/Paeth stay sequential — their left operand is
                # the halved/predicted OUTPUT, not a plain prefix sum
                # (all-Paeth 512² RGB measures 0.38s: fine for Arrow
                # batches; swap a codec in for throughput-critical use)
                a = (
                    np.frombuffer(bytes(line), dtype=np.uint8)
                    .reshape(-1, bpp)  # rows of left-neighbor units
                    .astype(np.int64)
                )
                line = bytearray(
                    (np.cumsum(a, axis=0) % 256).astype(np.uint8).tobytes()
                )
            elif f == 2:  # Up: vectorized add of the prior scanline
                line = bytearray(
                    ((np.frombuffer(bytes(line), dtype=np.uint8) + prev) & 255)
                    .astype(np.uint8)
                    .tobytes()
                )
            elif f == 3:  # Average
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + ((a + int(prev[i])) >> 1)) & 255
            elif f == 4:  # Paeth predictor
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    b = int(prev[i])
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[i] = (line[i] + pred) & 255
            elif f != 0:
                return None
            sub[y] = np.frombuffer(bytes(line), dtype=np.uint8)
            prev = sub[y].astype(np.intc)
        return p - off, sub

    def samples(sub: np.ndarray, wpx: int) -> np.ndarray:
        """(hpx, stride) filtered bytes -> (hpx, wpx*nch, unit) sample
        array. Sub-byte depths unpack MSB-first d-bit fields and drop
        the final byte's padding bits (spec 7.2); byte depths pass
        through."""
        if not sub_byte:
            return sub.reshape(sub.shape[0], wpx, bpp)
        bits = np.unpackbits(sub, axis=1)
        ns = wpx * nch
        b = bits[:, : ns * depth].reshape(sub.shape[0], ns, depth)
        w8 = 1 << np.arange(depth - 1, -1, -1)
        return (b * w8).sum(axis=2).astype(np.uint8)[:, :, None]

    unit = bpp if not sub_byte else nch
    if interlace == 0:
        got = unfilter(0, w, h)
        if got is None:
            return None
        full = samples(got[1], w)
    else:  # Adam7: seven sub-images scattered onto the full grid
        full = np.zeros((h, w, unit), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy) in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue  # empty pass has no scanlines
            got = unfilter(off, pw, ph)
            if got is None:
                return None
            consumed, sub = got
            off += consumed
            full[y0::dy, x0::dx] = samples(sub, pw)
    if depth == 16:  # high byte of each big-endian 16-bit sample
        full = full.reshape(h, w, nch, 2)[:, :, :, 0]
    if ctype == 0 and sub_byte:
        # scale d-bit gray to 8-bit (255 / (2^d - 1), exact integers)
        full = (full.astype(np.int64) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    if ctype == 3:  # palette: expand indices through PLTE to RGB
        if plte is None or len(plte) % 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idxs = full.reshape(-1)
        if idxs.max(initial=0) >= len(pal):
            return None
        return (w, h, 3, pal[idxs].reshape(h, w, 3))
    px = full.reshape(h, w, nch)
    color = px[:, :, :-1] if ctype in (4, 6) else px  # drop alpha
    return (w, h, nch, color)


def decode_image_blob(blob: bytes):
    """ONE image blob → ``(width, height, channels, pixels uint8
    (h, w, ch))`` or ``None`` — the pure-Python decode shared by every
    image kernel, dispatched through the image rows of ``_FORMATS``:
    PNG, baseline/progressive JPEG, GIF (first frame), BMP, TIFF,
    lossless WebP. No codec library anywhere; ``None`` means
    undecodable (an unsupported format or a loud decode refusal),
    never an error."""
    row = _format_of(blob)
    return row.decode(blob) if row.kind == "image" else None


def decode_images(
    df: DataFrame,
    bin_col: str = "content",
    on_unsupported: str = "null",
) -> DataFrame:
    """Decode images to (width, height, channels, mean_intensity).

    Every blob goes through the real-decode chain
    (``decode_image_blob``: PNG, JPEG, GIF, BMP, TIFF, lossless WebP —
    no codec library). A blob it cannot decode comes back with NULL
    metrics (``on_unsupported="null"``, the default — at 100 TB one
    undecodable blob must never kill the job; pass
    ``on_unsupported="error"`` to fail fast instead). Arrow-batched
    mapInPandas."""
    if on_unsupported not in ("null", "error"):
        raise ValueError(f"on_unsupported must be null|error, got {on_unsupported!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"path": [], "width": [], "height": [], "channels": [], "mean_intensity": []}
            for path, blob in zip(pdf["path"], pdf[bin_col]):
                res = decode_image_blob(bytes(blob))
                if res is not None:
                    w, h, ch, px = res
                    mean = round(float(px.mean()) / 255.0, 6)
                elif on_unsupported == "error":
                    raise NotImplementedError(
                        f"no decoder in the no-codec-library chain for: {path}"
                    )
                else:
                    w = h = ch = mean = None
                out["path"].append(path)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(ch)
                out["mean_intensity"].append(mean)
            yield pd.DataFrame(out)

    return df.select("path", bin_col).mapInPandas(batches, DECODE_SCHEMA)


def avi_mjpeg_frames(blob: bytes, every_n: int = 1, max_frames: int = 64):
    """REAL video frame decode for MJPEG-in-AVI — the one mainstream
    video profile that needs no codec library, because the container is
    a plain RIFF chunk list and every frame is an independent baseline
    JPEG (``jpegcodec.jpeg_decode_array``). Walks RIFF('AVI ') →
    LIST('movi') → '##dc'/'##db' chunks, decodes every ``every_n``-th
    frame, yields ``(frame_idx, width, height, rgb_bytes)`` like
    ``gif_decode_frames``. Only a stream whose fourcc names MJPG
    (``avi_video_fourcc``, the avi row's capability) decodes: other
    codecs inside AVI (and mp4/webm containers) return nothing — those
    genuinely need ffmpeg."""
    import numpy as np

    if avi_video_fourcc(blob) != "MJPG":
        return
    movi = next(
        (
            (s + 4, s + ln)
            for cid, s, ln in _riff_chunks(blob)
            if cid == b"LIST" and blob[s : s + 4] == b"movi"
        ),
        None,
    )
    if movi is None:
        return
    frame_idx = 0
    emitted = 0
    try:
        for cid, s, ln in _riff_chunks(blob, *movi):
            if emitted >= max_frames:
                return
            if cid[2:4] not in (b"dc", b"db"):
                continue
            if frame_idx % every_n == 0:
                decoded = jpeg_decode_array(blob[s : s + ln])
                if decoded is not None:
                    w, h, ch, px = decoded
                    if ch == 1:
                        px = np.repeat(px, 3, axis=2)
                    yield (frame_idx, w, h, px.tobytes())
                    emitted += 1
            frame_idx += 1
    except Exception:
        return


AUDIO_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("duration_s", DoubleType()),
        StructField("sample_rate", IntegerType()),
        StructField("loudness", ArrayType(DoubleType())),
    ]
)


_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


_MS_COEFS = [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
             (460, -208), (392, -232)]
_MS_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]


def _tdiv(a: int, b: int) -> int:
    """C-style integer division (truncate toward zero) — the MS-ADPCM
    reference arithmetic; Python's // floors, which drifts the
    predictor feedback loop on negative values."""
    q = abs(a) // b
    return -q if a < 0 else q


def _ms_adpcm_decode(data: bytes, block_align: int, channels: int = 1):
    """MS ADPCM (WAV fmt 2, r7): per block, one predictor-coefficient
    index + initial delta + two warmup int16s per channel, then 4-bit
    codes (high nibble first, channels alternating in stereo):
    sample = trunc((s1*c1 + s2*c2)/256) + signed_code*delta, delta
    adapted via the 16-entry table with a floor of 16. Returns the
    mono-mixed float array in [-1, 1] or None."""
    import struct as st

    import numpy as np

    if channels not in (1, 2) or block_align < 7 * channels + 1:
        return None
    out = []
    for b0 in range(0, len(data) - block_align + 1, block_align):
        blk = data[b0 : b0 + block_align]
        pred = list(blk[:channels])
        if any(p >= len(_MS_COEFS) for p in pred):
            return None
        off = channels
        delta = list(st.unpack_from("<" + "h" * channels, blk, off))
        off += 2 * channels
        s1 = list(st.unpack_from("<" + "h" * channels, blk, off))
        off += 2 * channels
        s2 = list(st.unpack_from("<" + "h" * channels, blk, off))
        off += 2 * channels
        chans = [[s2[c], s1[c]] for c in range(channels)]
        ci = 0
        for byte in blk[off:]:
            for nib in (byte >> 4, byte & 0xF):
                c = ci % channels
                ci += 1
                c1, c2 = _MS_COEFS[pred[c]]
                p = _tdiv(chans[c][-1] * c1 + chans[c][-2] * c2, 256)
                signed = nib - 16 if nib >= 8 else nib
                s = max(-32768, min(32767, p + signed * delta[c]))
                chans[c].append(s)
                delta[c] = max(16, _tdiv(_MS_ADAPT[nib] * delta[c], 256))
        n = min(len(ch) for ch in chans)
        arr = np.array([ch[:n] for ch in chans], dtype=np.float64)
        out.append(arr.mean(axis=0) / 32768.0)
    if not out:
        return None
    return np.concatenate(out)


def _ima_nibbles(packed: bytes, pred: int, idx: int, out: list):
    """The IMA ADPCM core both IMA codecs share: expand ``packed``'s
    4-bit codes (low nibble first) from predictor ``pred`` and step
    index ``idx``, appending int16 samples to ``out``; returns the
    final ``(pred, idx)``."""
    for byte in packed:
        for nib in (byte & 0x0F, byte >> 4):
            step = _IMA_STEPS[idx]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
            out.append(pred)
    return pred, idx


def _ima_adpcm_decode(data: bytes, block_align: int, channels: int = 1):
    """IMA ADPCM (WAV fmt 0x11) decode — a pure table codec, no library
    needed: per block, a 4-byte header PER CHANNEL (16-bit predictor
    seed + step index), then the channels' nibble streams interleaved
    in 4-byte words (8 samples of channel 0, 8 of channel 1, ...), low
    nibble first within each byte. Returns channel-mixed float64
    samples in [-1, 1] or None for malformed blocks."""
    if channels < 1 or block_align < 4 * channels + 1:
        return None
    import numpy as np

    chans = [[] for _ in range(channels)]
    for b0 in range(0, len(data) - block_align + 1, block_align):
        block = data[b0 : b0 + block_align]
        preds, idxs = [], []
        for c in range(channels):
            preds.append(
                int.from_bytes(block[4 * c : 4 * c + 2], "little", signed=True)
            )
            idx = block[4 * c + 2]
            if idx > 88:
                return None
            idxs.append(idx)
            chans[c].append(preds[c])
        body = block[4 * channels :]
        # 4-byte word groups round-robin across channels
        for w0 in range(0, len(body) - 3, 4 * channels):
            for c in range(channels):
                word = body[w0 + 4 * c : w0 + 4 * c + 4]
                if len(word) < 4:
                    break
                preds[c], idxs[c] = _ima_nibbles(
                    word, preds[c], idxs[c], chans[c]
                )
    if not chans[0]:
        return None
    n = min(len(c) for c in chans)
    mix = np.mean(
        np.stack([np.asarray(c[:n], dtype=np.float64) for c in chans]), axis=0
    )
    return mix / 32768.0


def _riff_chunks(blob: bytes, pos: int = 12, end: int | None = None,
                 order: str = "<"):
    """The one RIFF chunk-list walk: ``(fourcc, body_start,
    declared_len)`` per chunk in ``blob[pos:end]``, stepping over the
    pad byte that word-aligns odd-length chunks. ``order=">"`` walks
    AIFF's big-endian IFF form of the same layout. The declared length
    may run past the blob on a truncated file — slice, don't trust."""
    import struct

    end = len(blob) if end is None else min(end, len(blob))
    while pos + 8 <= end:
        (ln,) = struct.unpack(order + "I", blob[pos + 4 : pos + 8])
        yield blob[pos : pos + 4], pos + 8, ln
        pos += 8 + ln + (ln & 1)


def _wav_fmt_data(blob: bytes):
    """``(fmt, data)`` of a WAVE blob from one chunk walk: the LAST
    ``fmt `` chunk with a full 16-byte body, unpacked as (format code,
    channels, rate, byte rate, block align, bits), and the last
    ``data`` chunk as (body start, declared length); either may be
    None. The decoder, its capability and the metadata all read this."""
    import struct

    fmt = data = None
    for cid, s, ln in _riff_chunks(blob):
        if cid == b"fmt " and ln >= 16 and s + 16 <= len(blob):
            fmt = struct.unpack("<HHIIHH", blob[s : s + 16])
        elif cid == b"data":
            data = (s, ln)
    return fmt, data


# WAV fmt codes wav_decode_array turns into samples, per bit depth:
# integer PCM (fmt 1: 8/16/24/32-bit), MS ADPCM (2), IEEE float (3:
# 32/64-bit), G.711 A-law/mu-law (6/7: 8-bit), IMA ADPCM (0x11).
# Everything else is metadata-only.
def _wav_fmt_decodable(audio_fmt, bits) -> bool:
    if audio_fmt == 1:
        return bits in (8, 16, 24, 32)
    if audio_fmt == 3:
        return bits in (32, 64)
    if audio_fmt in (6, 7):
        return bits == 8
    return audio_fmt in (2, 0x11)


def wav_decode_array(blob: bytes):
    """Pure-stdlib WAV decode returning the SAMPLES: walks the RIFF
    chunk list, reads the fmt descriptor, and decodes integer PCM
    (8/16/24/32-bit), IEEE float PCM (fmt 3), plus the G.711 telephony
    codecs (A-law fmt 6, mu-law fmt 7 — pure companding formulas),
    MS ADPCM (fmt 2) and IMA ADPCM (fmt 0x11, a
    pure table codec, mono/stereo) — no codec library anywhere — with numpy.
    Returns ``(sample_rate, mono)`` with mono
    a float64 array in [-1, 1] (channel-mixed), or ``None`` for
    non-WAV / compressed (mp3/ADPCM/...) / malformed input.
    ``wav_decode_samples`` wraps this for the RMS envelope;
    ``dhash(kind="audio")`` consumes the array."""
    import numpy as np

    if len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    fmt, span = _wav_fmt_data(blob)
    if fmt is None or span is None:
        return None
    data = blob[span[0] : span[0] + span[1]]
    audio_fmt, channels, rate, _brate, _balign, bits = fmt
    if channels == 0 or rate == 0:
        return None
    if audio_fmt in (6, 7):  # G.711 A-law / mu-law: formula codecs
        mono = _g711_mono(data, audio_fmt, channels) if bits == 8 else None
    elif audio_fmt == 17:  # IMA ADPCM (table codec), mono or stereo
        mono = _ima_adpcm_decode(data, _balign, channels)
    elif audio_fmt == 2:  # MS ADPCM (r7: predictor-coefficient codec)
        mono = _ms_adpcm_decode(data, _balign, channels)
    elif audio_fmt == 3:  # IEEE float PCM (r7)
        dt = {32: "<f4", 64: "<f8"}.get(bits)
        mono = None if dt is None else _pcm_mono(data, dt, channels)
        mono = None if mono is None else np.clip(mono, -1.0, 1.0)
    elif audio_fmt == 1:  # integer PCM; 8-bit is unsigned, centered at 128
        dt = {8: "u1", 16: "<i2", 24: "<i3", 32: "<i4"}.get(bits)
        mono = None if dt is None else _pcm_mono(
            data, dt, channels, offset=128.0 if bits == 8 else 0.0,
            denom=float(1 << (bits - 1)),
        )
    else:  # perceptual codecs (mp3 etc.) need a codec lib
        return None
    return None if mono is None else (int(rate), mono)


def _g711_mono(data: bytes, law: int, channels: int):
    """G.711 bytes (``law`` = WAV fmt code: 6 A-law, 7 mu-law) → the
    channel mean of the expanded samples in [-1, 1], over whole frames
    only; None when there is none. Pure companding formulas."""
    import numpy as np

    usable = len(data) - (len(data) % channels)
    if usable <= 0:
        return None
    enc = np.frombuffer(data[:usable], dtype=np.uint8).astype(np.int64)
    if law == 7:  # mu-law (ITU-T G.711): invert the companding
        u = ~enc & 0xFF
        sign = np.where(u & 0x80, -1.0, 1.0)
        exp = (u >> 4) & 7
        man = u & 0x0F
        mag = ((man.astype(np.float64) * 2 + 33) * (2.0 ** exp)) - 33
        x = sign * mag / 8031.0
    else:  # A-law (sign bit 1 = POSITIVE — opposite of mu-law)
        a = enc ^ 0x55
        sign = np.where(a & 0x80, 1.0, -1.0)
        exp = (a >> 4) & 7
        man = (a & 0x0F).astype(np.float64)
        mag = np.where(
            exp == 0, man * 2 + 1, (man * 2 + 33) * (2.0 ** (exp - 1))
        )
        x = sign * mag / 4096.0
    return x.reshape(-1, channels).mean(axis=1)


def _pcm_mono(data: bytes, dtype: str, channels: int, offset: float = 0.0,
              denom: float = 1.0):
    """Interleaved PCM of numpy ``dtype`` (``"<i3"``/``">i3"``: packed
    signed 24-bit) → the channel mean of ``(x - offset) / denom`` as
    float64, over whole frames only; None when there is none."""
    import numpy as np

    width = 3 if dtype[1:] == "i3" else np.dtype(dtype).itemsize
    usable = len(data) - (len(data) % (width * channels))
    if usable <= 0:
        return None
    if width == 3:
        raw = np.frombuffer(data[:usable], dtype=np.uint8).reshape(-1, 3)
        raw = (raw[:, ::-1] if dtype[0] == ">" else raw).astype(np.int64)
        v = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        x = np.where(v >= 1 << 23, v - (1 << 24), v).astype(np.float64)
    else:
        x = np.frombuffer(data[:usable], dtype=dtype).astype(np.float64)
    if offset:
        x = x - offset
    return (x / denom).reshape(-1, channels).mean(axis=1)


def _aifc_ima4_decode(data: bytes, channels: int):
    """Apple IMA4 (AIFC 'ima4', r7): 34-byte packets, channel-
    interleaved — 2-byte big-endian preamble (top 9 bits the int16
    predictor seed, low 7 the step index) + 32 nibble bytes (low
    nibble first), 64 samples per packet. Same step/index tables as
    WAV IMA ADPCM. Returns mono-mixed float64 in [-1, 1] or None."""
    import numpy as np

    if channels < 1 or len(data) < 34 * channels:
        return None
    chans = [[] for _ in range(channels)]
    pos = 0
    while pos + 34 * channels <= len(data):
        for c in range(channels):
            pkt = data[pos + 34 * c : pos + 34 * (c + 1)]
            pre = int.from_bytes(pkt[:2], "big")
            pred = pre & 0xFF80
            if pred >= 0x8000:
                pred -= 0x10000
            idx = pre & 0x7F
            if idx > 88:
                return None
            _ima_nibbles(pkt[2:], pred, idx, chans[c])
        pos += 34 * channels
    if not chans[0]:
        return None
    arr = np.array(chans, dtype=np.float64) / 32768.0
    return arr.mean(axis=0)


def _read_extended80(b: bytes) -> float:
    """IEEE 754 80-bit extended float (big-endian) — AIFF's sample-rate
    encoding: 1 sign + 15 exponent bits, then a 64-bit mantissa with an
    EXPLICIT integer bit. Corrupt exponents must yield 0.0, never an
    exception: this runs inside mapInPandas kernels where one bad blob
    must not kill the task (a large exponent field would otherwise
    raise OverflowError in 2.0**exp)."""
    import struct

    if len(b) < 10:
        return 0.0
    se = struct.unpack(">H", b[:2])[0]
    mant = struct.unpack(">Q", b[2:10])[0]
    if se & 0x7FFF == 0 and mant == 0:
        return 0.0
    exp = (se & 0x7FFF) - 16383
    if se & 0x8000 or exp < -63 or exp > 63:
        # negative, denormal-tiny, infinity/NaN (0x7FFF), or absurdly
        # large: no legal audio rate lives here
        return 0.0
    return mant * 2.0 ** (exp - 63)


# AIFC compression fourccs aiff_decode_array turns into samples; the
# single authority the coverage/metadata tiers share
_AIFC_DECODABLE = frozenset(
    [b"none", b"\x00\x00\x00\x00", b"sowt", b"fl32", b"alaw", b"ulaw",
     b"ima4"]
)


def _aiff_comm(blob: bytes):
    """The COMM facts every AIFF consumer needs — one chunk walk shared
    by ``aiff_decode_array`` and the aiff row of ``_FORMATS`` (its
    capability and metadata): ``(channels, frames, bits, rate, comp)``
    with rate validated to a plausible audio range (0 excluded), or
    ``None``."""
    import struct

    if len(blob) < 12 or blob[:4] != b"FORM" or blob[8:12] not in (
        b"AIFF", b"AIFC"
    ):
        return None
    for cid, s, ln in _riff_chunks(blob, order=">"):
        if cid == b"COMM":
            body = blob[s : s + ln]
            if len(body) < 18:
                return None
            ch, frames, bits = struct.unpack(">HIH", body[:8])
            rate = _read_extended80(body[8:18])
            comp = body[18:22] if len(body) >= 22 else b"NONE"
            if not (0 < rate <= 10_000_000):
                return None  # corrupt/absurd rate: unusable metadata
            return (ch, frames, bits, int(round(rate)), comp)
    return None


def aiff_decode_array(blob: bytes):
    """AIFF / AIFC sample decode — pure stdlib+numpy like the WAV path:
    FORM chunk walk, COMM (channels, frames, bits, 80-bit extended
    sample rate, AIFC compression fourcc), SSND PCM. Covers big-endian
    integer PCM 8/16/24/32 ('NONE'), little-endian 16-bit ('sowt'),
    32-bit float ('fl32'), and G.711 ('alaw'/'ulaw', the WAV path's
    companding formulas). Returns ``(sample_rate, mono float64)`` or
    ``None``."""
    import struct

    import numpy as np

    comm = _aiff_comm(blob)
    if comm is None:
        return None
    ch, _frames, bits, rate, comp = comm
    if ch == 0:
        return None
    data = None
    for cid, s, ln in _riff_chunks(blob, order=">"):
        body = blob[s : s + ln]
        if cid == b"SSND" and len(body) >= 8:
            off = struct.unpack(">I", body[:4])[0]
            data = body[8 + off :]
            break
    if data is None:
        return None
    if comp in (b"fl32", b"FL32"):
        mono = _pcm_mono(data, ">f4", ch)
        return None if mono is None else (rate, np.clip(mono, -1.0, 1.0))
    if comp in (b"alaw", b"ALAW", b"ulaw", b"ULAW"):
        mono = _g711_mono(data, 6 if comp.lower() == b"alaw" else 7, ch)
    elif comp == b"ima4":
        mono = _aifc_ima4_decode(data, ch)
    elif comp == b"sowt":  # little-endian 16-bit PCM (Mac convention)
        mono = _pcm_mono(data, "<i2", ch, denom=float(1 << 15))
    elif comp in (b"NONE", b"\x00\x00\x00\x00"):
        dt = {8: ">i1", 16: ">i2", 24: ">i3", 32: ">i4"}.get(bits)
        if dt is None:
            return None
        mono = _pcm_mono(data, dt, ch, denom=float(1 << (bits - 1)))
    else:
        return None  # other compressed AIFC codecs
    return None if mono is None else (rate, mono)


def audio_decode_array(blob: bytes):
    """Samples from ANY container this engine decodes, dispatched
    through the audio rows of ``_FORMATS``: WAV (integer PCM / IEEE
    float / G.711 A-law+mu-law / MS+IMA ADPCM) via ``wav_decode_array``,
    AIFF/AIFC via ``aiff_decode_array``, FLAC via the pure-stdlib
    ``flaccodec.flac_decode_array``, MPEG-1 audio Layers I/III — real
    MP3 sample decode — via ``mpegaudio.mpeg_audio_decode_array`` (see
    that module's docstring for the exact refusal set: Layer II, LSF,
    and frames selecting unshipped Huffman tables), and Ogg Vorbis via
    ``vorbiscodec.vorbis_decode_array`` (floor 1 + residues 0/1/2 +
    mapping 0 — the feature set real encoders emit; Opus and exotic
    setups refuse). ADTS-AAC is metadata only. Returns ``(sample_rate,
    mono float64 in [-1, 1])`` or ``None`` for undecodable input."""
    row = _format_of(blob)
    return row.decode(blob) if row.kind == "audio" else None


def wav_decode_samples(blob: bytes, envelope_bins: int = 8):
    """RMS-envelope wrapper over ``audio_decode_array`` (WAV family +
    FLAC): returns ``(duration_s, sample_rate, loudness)`` where
    loudness is an ``envelope_bins``-segment RMS envelope normalized to
    [0, 1] (mono-mixed), or ``None`` for undecodable input — callers
    treat that as undecodable, never as an error."""
    import numpy as np

    decoded = audio_decode_array(blob)
    if decoded is None:
        return None
    rate, mono = decoded
    n = len(mono)
    duration = n / rate
    edges = np.linspace(0, n, envelope_bins + 1, dtype=np.int64)
    env = [
        round(float(np.sqrt(np.mean(mono[a:b] ** 2))), 6) if b > a else 0.0
        for a, b in zip(edges[:-1], edges[1:])
    ]
    return (round(duration, 6), int(rate), env)


def audio_features(
    df: DataFrame,
    bin_col: str = "content",
    envelope_bins: int = 8,
) -> DataFrame:
    """Per-clip audio features (duration, sample rate, RMS loudness
    envelope). The WAV family (integer PCM, G.711, IMA ADPCM), FLAC,
    AIFF/AIFC, MPEG-1 Layer I/III (real MP3, late r7) and Ogg Vorbis
    (r9) decode FOR REAL with stdlib + numpy (``wav_decode_samples`` over
    ``audio_decode_array``, per blob). Ogg Opus and the documented MPEG
    refusal set come back NULL. Arrow-batched mapInPandas."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"path": [], "duration_s": [], "sample_rate": [], "loudness": []}
            for path, blob in zip(pdf["path"], pdf[bin_col]):
                res = wav_decode_samples(bytes(blob), envelope_bins)
                dur, rate, env = (None, None, None) if res is None else res
                rows["path"].append(path)
                rows["duration_s"].append(dur)
                rows["sample_rate"].append(rate)
                rows["loudness"].append(env)
            yield pd.DataFrame(rows)

    return df.select("path", bin_col).mapInPandas(batches, AUDIO_SCHEMA)


# -- REAL header metadata (no codec libraries needed) ------------------------
#
# Compressed video and Opus DECODE needs ffmpeg (those rows decode to NULL
# above) — but container HEADERS are plain bytes. These parsers are real:
# PNG/GIF/BMP dimensions and canonical WAV metadata are pure Catalyst
# expressions (substring on binary + hex + conv, evaluated JVM-side next
# to the scan); JPEG needs a marker walk (variable-length segments), done
# with the stdlib only in an Arrow-batched mapInPandas.


def _be_u32(b: F.Column, pos: int) -> F.Column:
    """Big-endian uint32 at 1-based byte offset ``pos`` of a binary col."""
    return F.conv(F.hex(F.substring(b, pos, 4)), 16, 10).cast("long")


def _le_u32(b: F.Column, pos: int) -> F.Column:
    """Little-endian uint32: byte-swap via per-byte hex concat."""
    return F.conv(
        F.concat(*[F.hex(F.substring(b, pos + i, 1)) for i in (3, 2, 1, 0)]),
        16,
        10,
    ).cast("long")


def _le_u16(b: F.Column, pos: int) -> F.Column:
    return F.conv(
        F.concat(F.hex(F.substring(b, pos + 1, 1)), F.hex(F.substring(b, pos, 1))),
        16,
        10,
    ).cast("long")


def png_dimensions(b: F.Column) -> F.Column:
    """(width, height) struct from a PNG's IHDR chunk — the IHDR data
    always starts at byte 17 (8 sig + 4 len + 4 type). NULL if not PNG."""
    return F.when(
        F.hex(F.substring(b, 1, 4)) == F.lit(b"\x89PNG".hex().upper()),
        F.struct(
            _be_u32(b, 17).alias("width"), _be_u32(b, 21).alias("height")
        ),
    )


def gif_dimensions(b: F.Column) -> F.Column:
    """(width, height) from a GIF logical screen descriptor (LE u16 at
    bytes 7-10). NULL if not GIF."""
    return F.when(
        F.substring(b, 1, 4).cast("string") == "GIF8",
        F.struct(
            _le_u16(b, 7).alias("width"), _le_u16(b, 9).alias("height")
        ),
    )


def bmp_dimensions(b: F.Column) -> F.Column:
    """(width, height) from a BITMAPINFOHEADER (LE i32 at bytes 19-26).
    NULL if not BMP. biHeight is SIGNED — top-down BMPs store a negative
    height, so sign-extend the 32-bit value and report its magnitude
    (a raw unsigned read would claim heights near 4.29e9)."""
    raw_h = _le_u32(b, 23)
    signed_h = F.when(
        raw_h > F.lit((1 << 31) - 1), raw_h - F.lit(1 << 32)
    ).otherwise(raw_h)
    return F.when(
        F.substring(b, 1, 2).cast("string") == "BM",
        F.struct(
            _le_u32(b, 19).alias("width"), F.abs(signed_h).alias("height")
        ),
    )


# BITMAPINFOHEADER and its V2-V5 extensions: the header sizes whose
# bpp/compression fields sit where the decoder and its capability read
_BMP_INFO_SIZES = (40, 52, 56, 108, 124)


def bmp_decode_array(blob: bytes):
    """REAL BMP pixel decode (r9) — uncompressed BI_RGB (and the
    equivalent default-mask BITFIELDS) at 1/4/8-bit palette or
    24/32-bit BGR(x) depths, bottom-up or top-down rows, 4-byte row
    padding. RLE4/RLE8 and exotic masks refuse (``None``) — same loud
    posture as every decoder here. Returns ``(w, h, 3, px uint8
    (h, w, 3))`` or ``None``."""
    import struct as _struct

    import numpy as np

    if len(blob) < 54 or blob[:2] != b"BM":
        return None
    try:
        data_off = _struct.unpack("<I", blob[10:14])[0]
        hdr_size = _struct.unpack("<I", blob[14:18])[0]
        if hdr_size not in _BMP_INFO_SIZES:
            return None  # BITMAPCOREHEADER and friends: refuse
        w, h = _struct.unpack("<ii", blob[18:26])
        bpp = _struct.unpack("<H", blob[28:30])[0]
        comp = _struct.unpack("<I", blob[30:34])[0]
        top_down = h < 0
        h = abs(h)
        if w <= 0 or h <= 0 or w > 1 << 16 or h > 1 << 16:
            return None
        if comp == 3 and bpp == 32 and hdr_size >= 52:
            masks = _struct.unpack("<III", blob[54:66])
            if masks != (0x00FF0000, 0x0000FF00, 0x000000FF):
                return None
        elif comp != 0:
            return None  # RLE / exotic bitfields: refuse
        if bpp not in (1, 4, 8, 24, 32):
            return None
        stride = ((w * bpp + 31) // 32) * 4
        need = data_off + stride * h
        if need > len(blob):
            return None
        if bpp <= 8:
            n_pal = _struct.unpack("<I", blob[46:50])[0] or (1 << bpp)
            pal_off = 14 + hdr_size
            pal = np.frombuffer(
                blob[pal_off : pal_off + 4 * n_pal], dtype=np.uint8
            ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRA quads -> RGB
            if len(pal) < n_pal:
                return None
        rows = np.frombuffer(
            blob[data_off : data_off + stride * h], dtype=np.uint8
        ).reshape(h, stride)
        if not top_down:
            rows = rows[::-1]
        if bpp == 24:
            px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1].copy()
        elif bpp == 32:
            px = (
                rows[:, : w * 4].reshape(h, w, 4)[:, :, :3][:, :, ::-1]
            ).copy()
        else:
            if bpp == 8:
                idx = rows[:, :w]
            elif bpp == 4:
                nib = np.repeat(rows, 2, axis=1)
                nib[:, 0::2] >>= 4
                nib[:, 1::2] &= 0x0F
                idx = nib[:, :w]
            else:  # 1-bit
                bits = np.unpackbits(rows, axis=1)
                idx = bits[:, :w]
            if int(idx.max()) >= n_pal:
                return None
            px = pal[idx]
        return (w, h, 3, px)
    except (ValueError, _struct.error):
        return None


def _u8(b: F.Column, pos: int) -> F.Column:
    return F.conv(F.hex(F.substring(b, pos, 1)), 16, 10).cast("long")


def webp_dimensions(b: F.Column) -> F.Column:
    """(width, height) from a WebP container — all three variants, pure
    Catalyst (fixed offsets): lossy VP8 (14-bit LE dims after the
    9D 01 2A start code), lossless VP8L (14-bit packed fields of the
    LE u32 after the 0x2F signature), extended VP8X (24-bit LE
    canvas-minus-one). NULL if not WebP / unrecognized variant."""
    is_webp = (F.substring(b, 1, 4).cast("string") == "RIFF") & (
        F.substring(b, 9, 4).cast("string") == "WEBP"
    )
    four = F.substring(b, 13, 4).cast("string")
    vp8_ok = F.hex(F.substring(b, 24, 3)) == "9D012A"
    vp8 = F.struct(
        (_le_u16(b, 27) % 16384).alias("width"),
        (_le_u16(b, 29) % 16384).alias("height"),
    )
    u = _le_u32(b, 22)
    vp8l_ok = _u8(b, 21) == 0x2F
    vp8l = F.struct(
        ((u % 16384) + 1).alias("width"),
        ((F.floor(u / 16384).cast("long") % 16384) + 1).alias("height"),
    )
    w24 = _le_u16(b, 25) + _u8(b, 27) * 65536
    h24 = _le_u16(b, 28) + _u8(b, 30) * 65536
    vp8x = F.struct((w24 + 1).alias("width"), (h24 + 1).alias("height"))
    return F.when(
        is_webp,
        F.when((four == "VP8 ") & vp8_ok, vp8)
        .when((four == "VP8L") & vp8l_ok, vp8l)
        .when(four == "VP8X", vp8x),
    )


JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xCF + 1)
) - {0xC4, 0xC8, 0xCC}  # SOFn, excluding DHT/JPG/DAC


def _jpeg_dims(blob: bytes) -> tuple[int, int] | None:
    """Walk JPEG segments to the first SOFn frame header (stdlib only).
    Height/width are big-endian u16 at offsets 3/5 of the SOF payload."""
    if len(blob) < 4 or blob[0] != 0xFF or blob[1] != 0xD8:
        return None
    i = 2
    n = len(blob)
    while i + 4 <= n:
        if blob[i] != 0xFF:
            i += 1  # padding/garbage: resync
            continue
        marker = blob[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers have no length field
            continue
        if i + 4 > n:
            return None
        seg_len = (blob[i + 2] << 8) | blob[i + 3]
        if marker in JPEG_SOF_MARKERS:
            if i + 9 > n:
                return None
            h = (blob[i + 5] << 8) | blob[i + 6]
            w = (blob[i + 7] << 8) | blob[i + 8]
            return (w, h)
        i += 2 + seg_len
    return None


IMAGE_DIMS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("kind", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


def image_dimensions(df: DataFrame, bin_col: str = "content") -> DataFrame:
    """REAL image dimensions from container headers — no codec library.

    PNG/GIF/BMP/WebP (all three WebP variants) parse as pure Catalyst
    expressions (JVM-side, next to
    the scan, zero Python); JPEG (variable-length marker walk) and
    TIFF (variable-offset IFD walk, r9) route through an Arrow-batched
    stdlib parser — and only those rows. Output: (path, kind, width,
    height); width/height NULL when the container is unrecognized or
    truncated.

    Scale shape: the Catalyst branch is a narrow projection; the
    walked branch is mapInPandas over a filtered scan — payload bytes
    never shuffle, and the union is of two narrow legs."""
    b = F.col(bin_col)
    kind = sniff_kind(b)
    base = df.select("path", b.alias("_b"), kind.alias("kind"))
    catalyst = (
        base.filter(~F.col("kind").isin("image/jpeg", "image/tiff"))
        .select(
            "path",
            "kind",
            F.coalesce(
                png_dimensions(F.col("_b")),
                gif_dimensions(F.col("_b")),
                bmp_dimensions(F.col("_b")),
                webp_dimensions(F.col("_b")),
            ).alias("_d"),
        )
        .select(
            "path",
            "kind",
            F.col("_d.width").alias("width"),
            F.col("_d.height").alias("height"),
        )
    )

    def walked_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .tiffcodec import tiff_dims

        for pdf in it:
            rows = {"path": [], "kind": [], "width": [], "height": []}
            for path, kind, blob in zip(pdf["path"], pdf["kind"], pdf["_b"]):
                blob = bytes(blob)
                dims = (
                    _jpeg_dims(blob)
                    if kind == "image/jpeg"
                    else tiff_dims(blob)
                )
                rows["path"].append(path)
                rows["kind"].append(kind)
                rows["width"].append(dims[0] if dims else None)
                rows["height"].append(dims[1] if dims else None)
            yield pd.DataFrame(rows)

    walked = base.filter(
        F.col("kind").isin("image/jpeg", "image/tiff")
    ).mapInPandas(walked_batches, IMAGE_DIMS_SCHEMA)
    return catalyst.unionByName(walked)


def _gif_lzw_decode(min_code_size: int, data: bytes, expected: int):
    """GIF-variant LZW decode (little-endian bit packing, CLEAR/END
    codes, 12-bit max code width). Returns index bytes or None."""
    clear = 1 << min_code_size
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    table = list(base)
    prev = None
    out = bytearray()
    bitpos, total_bits = 0, len(data) * 8
    while bitpos + width <= total_bits and len(out) < expected:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None  # corrupt stream
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out[:expected]) if len(out) >= expected else None


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_decode_frames(blob: bytes, max_frames: int = 64):
    """Pure-stdlib animated-GIF decode: walks the GIF87a/89a block
    stream, LZW-decodes each image descriptor, handles local/global
    color tables, interlacing, frame offsets, transparency, and
    disposal methods 2 (restore-to-background) and 3 (restore-previous)
    scoped to the frame's rect — GCE state resets to spec defaults after
    every image block — compositing every frame onto the logical
    canvas. Yields ``(frame_idx, width, height, rgb_bytes)`` with
    rgb_bytes the full RGB24 canvas after that frame. Returns
    immediately (no yield) for non-GIF/corrupt input."""
    import struct

    if len(blob) < 13 or blob[:4] != b"GIF8":
        return
    w, h = struct.unpack("<HH", blob[6:10])
    flags, bg_idx = blob[10], blob[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = blob[pos : pos + 3 * n]
        pos += 3 * n
    canvas = bytearray(
        (gct[3 * bg_idx : 3 * bg_idx + 3] if gct and 3 * bg_idx + 3 <= len(gct) else b"\x00\x00\x00")
        * (w * h)
    )
    transparent, disposal = None, 0
    frame_idx = 0
    try:
        while pos < len(blob) and frame_idx < max_frames:
            b0 = blob[pos]
            if b0 == 0x3B:  # trailer
                return
            if b0 == 0x21:  # extension
                label = blob[pos + 1]
                pos += 2
                if label == 0xF9 and blob[pos] >= 4:  # graphic control
                    packed = blob[pos + 1]
                    disposal = (packed >> 2) & 7
                    transparent = blob[pos + 4] if packed & 1 else None
                while blob[pos]:  # skip sub-blocks
                    pos += 1 + blob[pos]
                pos += 1
                continue
            if b0 != 0x2C:  # unknown block: bail rather than misparse
                return
            fx, fy, fw, fh = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            fflags = blob[pos + 9]
            pos += 10
            table = gct
            if fflags & 0x80:
                n = 2 << (fflags & 7)
                table = blob[pos : pos + 3 * n]
                pos += 3 * n
            if table is None:
                return
            min_code = blob[pos]
            if min_code > 8:  # LZW roots are 8-bit palette indices
                return
            pos += 1
            data = bytearray()
            while blob[pos]:
                ln = blob[pos]
                data += blob[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idxs = _gif_lzw_decode(min_code, bytes(data), fw * fh)
            if idxs is None:
                return
            # disposal 3 (restore-previous): snapshot the canvas BEFORE
            # compositing so the frame's rect can be rolled back after
            prev_canvas = bytes(canvas) if disposal == 3 else None
            if fflags & 0x40:  # interlaced: reorder rows
                rows = [idxs[r * fw : (r + 1) * fw] for r in range(fh)]
                ordered: list[bytes | None] = [None] * fh
                src = 0
                for start, step in _GIF_INTERLACE_PASSES:
                    for r in range(start, fh, step):
                        ordered[r] = rows[src]
                        src += 1
                idxs = b"".join(ordered)  # type: ignore[arg-type]
            for r in range(fh):
                cy = fy + r
                if cy >= h:
                    break
                for c in range(fw):
                    cx = fx + c
                    if cx >= w:
                        break
                    pi = idxs[r * fw + c]
                    if pi == transparent or 3 * pi + 3 > len(table):
                        continue
                    off = 3 * (cy * w + cx)
                    canvas[off : off + 3] = table[3 * pi : 3 * pi + 3]
            yield (frame_idx, w, h, bytes(canvas))
            frame_idx += 1
            # disposal applies to the FRAME RECT only (restoring the
            # whole canvas corrupted partial-frame animations — later
            # frames' pixels outside this rect must survive)
            if disposal == 2 and gct is not None:  # restore rect to bg
                bg = (
                    gct[3 * bg_idx : 3 * bg_idx + 3]
                    if 3 * bg_idx + 3 <= len(gct)
                    else b"\x00\x00\x00"
                )
                for r in range(fh):
                    cy = fy + r
                    if cy >= h:
                        break
                    row_w = min(fw, w - fx)
                    if row_w > 0:
                        off = 3 * (cy * w + fx)
                        canvas[off : off + 3 * row_w] = bg * row_w
            elif disposal == 3 and prev_canvas is not None:
                for r in range(fh):
                    cy = fy + r
                    if cy >= h:
                        break
                    row_w = min(fw, w - fx)
                    if row_w > 0:
                        off = 3 * (cy * w + fx)
                        canvas[off : off + 3 * row_w] = prev_canvas[
                            off : off + 3 * row_w
                        ]
            # a following image block with NO graphic-control extension
            # must see spec defaults, not this frame's settings
            transparent, disposal = None, 0
    except (IndexError, struct.error):
        return


# -- perceptual near-dup (dHash) ---------------------------------------------


def jpeg_exif_orientation(blob: bytes):
    """EXIF orientation tag (1-8) from a JPEG's APP1 segment — marker
    walk + minimal TIFF IFD0 scan (both byte orders), tag 0x0112.
    Returns ``None`` when absent/malformed (callers treat as upright).
    Cameras and phones store rotated sensor data with this tag instead
    of rotating pixels, so a perceptual screen that ignores it sees the
    same photo ~32 bits apart from its upright re-encode."""
    import struct

    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            return None
        while blob[pos + 1] == 0xFF and pos + 4 <= len(blob):
            pos += 1
        marker = blob[pos + 1]
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker in (0xD9, 0xDA):  # EXIF must precede the scan
            return None
        ln = struct.unpack(">H", blob[pos + 2 : pos + 4])[0]
        seg = blob[pos + 4 : pos + 2 + ln]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            t = seg[6:]
            if len(t) < 8:
                return None
            e = {b"II": "<", b"MM": ">"}.get(t[:2])
            if e is None or struct.unpack(e + "H", t[2:4])[0] != 42:
                return None
            off = struct.unpack(e + "I", t[4:8])[0]
            if off + 2 > len(t):
                return None
            n = struct.unpack(e + "H", t[off : off + 2])[0]
            for i in range(n):
                ep = off + 2 + 12 * i
                if ep + 12 > len(t):
                    return None
                tag, typ, cnt = struct.unpack(e + "HHI", t[ep : ep + 8])
                if tag == 0x0112 and typ == 3 and cnt == 1:
                    v = struct.unpack(e + "H", t[ep + 8 : ep + 10])[0]
                    return v if 1 <= v <= 8 else None
            return None
        pos += 2 + ln
    return None


def _apply_exif_orientation(gray, orient: int):
    """Upright a 2-D array per EXIF orientation 1-8 (the standard
    display transforms; numpy rot90 k=1 is counter-clockwise)."""
    import numpy as np

    if orient == 2:
        return gray[:, ::-1]
    if orient == 3:
        return gray[::-1, ::-1]
    if orient == 4:
        return gray[::-1, :]
    if orient == 5:
        return gray.T
    if orient == 6:
        return np.rot90(gray, k=-1)
    if orient == 7:
        return gray.T[::-1, ::-1]
    if orient == 8:
        return np.rot90(gray, k=1)
    return gray


def _decode_gray(blob: bytes):
    """Grayscale pixel array from any REAL decoder (the shared
    ``decode_image_blob`` chain via ``_decode_rgb``, EXIF-uprighted) —
    or None for formats still needing a codec library (video,
    compressed audio containers)."""
    px = _decode_rgb(blob)
    if px is None:
        return None
    return px.mean(axis=2) if px.shape[2] > 1 else px[:, :, 0]


def box_resample(arr, out_h: int, out_w: int):
    """Exact-area box resample of a (h, w) or (h, w, c) array to
    (out_h, out_w[, c]) — integer-floor cell grid, each output cell the
    mean of its source box (``np.add.reduceat`` twice); images smaller
    than the target up-map nearest-neighbor (reduceat needs h>=out_h).
    The generalized form of the dHash 8×9 grid; ``resize_images``
    thumbnails through it. Returns float64."""
    import numpy as np

    a = np.asarray(arr, dtype=np.float64)
    squeeze = a.ndim == 2
    if squeeze:
        a = a[:, :, None]
    h, w, _c = a.shape
    if h >= out_h and w >= out_w:
        ri = (np.arange(out_h) * h) // out_h
        ci = (np.arange(out_w) * w) // out_w
        s = np.add.reduceat(np.add.reduceat(a, ri, axis=0), ci, axis=1)
        rh = np.diff(np.append(ri, h)).astype(np.float64)
        cw = np.diff(np.append(ci, w)).astype(np.float64)
        out = s / (rh[:, None, None] * cw[None, :, None])
    else:  # tiny image: nearest-neighbor up-map
        rmap = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
        cmap = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
        out = a[np.ix_(rmap, cmap)]
    return out[:, :, 0] if squeeze else out


def dhash64_gray(gray) -> int:
    """64-bit difference hash (dHash) of a grayscale image array: box-
    resample to an 8×9 grid, then bit (row, col) = 1 iff
    cell[row][col] > cell[row][col+1] — the classic perceptual
    fingerprint that survives re-encode, resize, and mild edits while
    unrelated images land ~32 bits apart. Pure numpy, deterministic;
    returns a SIGNED 64-bit int (Spark LongType two's-complement)."""
    cells = box_resample(gray, 8, 9)
    bits = cells[:, :-1] > cells[:, 1:]
    v = 0
    for i in range(8):
        for j in range(8):
            if bits[i, j]:
                v |= 1 << (i * 8 + j)
    return v - (1 << 64) if v >= (1 << 63) else v


def png_encode(px) -> bytes:
    """Minimal PNG writer — filter-0 scanlines + stdlib zlib — for
    uint8 (h, w) gray or (h, w, 3) RGB arrays. Powers the
    ``resize_images`` thumbnail sink. The DECODERS are never tested
    against this writer: decoder tests keep their independent
    test-side encoders."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(px, dtype=np.uint8)
    gray = a.ndim == 2 or a.shape[2] == 1
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    h, w = a.shape[:2]
    ctype = 0 if gray else 2
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def _decode_rgb(blob: bytes):
    """(h, w, c) uint8 from any REAL decoder (c = 1 or 3), with EXIF
    orientation uprighted for JPEGs; None when undecodable. r10: the
    format walk is the SHARED ``decode_image_blob`` chain (single
    source of truth — a format added there reaches the perceptual
    screens automatically); the orientation tag is a header read on
    the blob."""
    import numpy as np

    decoded = decode_image_blob(blob)
    if decoded is None:
        return None
    px = decoded[3]
    if px.ndim == 2:
        px = px[:, :, None]
    orient = jpeg_exif_orientation(blob)  # JPEG: hash camera photos upright
    if orient and orient != 1:
        px = np.stack(
            [_apply_exif_orientation(px[:, :, i], orient)
             for i in range(px.shape[2])],
            axis=2,
        )
    return px


RESIZE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("thumb", BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "path",
    width: int = 64,
    height: int = 64,
) -> DataFrame:
    """Fixed-resolution thumbnails — the resize stage of a multimodal
    training pipeline: decode (PNG all profiles / JPEG baseline +
    progressive with EXIF uprighting / GIF first frame), exact-area
    ``box_resample`` to (height, width), re-encode as a filter-0 PNG.
    Arrow-batched mapInPandas; full-size pixels never leave the
    executor — only the bounded thumbnail (≤ h·w·3 bytes + zlib)
    shuffles. Undecodable blobs yield NULL thumbs, never errors.
    Output: (id, width, height, thumb: binary|NULL); width/height are
    the SOURCE dims (the thumb's are the arguments)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"path": [], "width": [], "height": [], "thumb": []}
            for rid, blob in zip(pdf[id_col], pdf[bin_col]):
                px = _decode_rgb(bytes(blob))
                out["path"].append(rid)
                if px is None:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["thumb"].append(None)
                    continue
                small = np.clip(
                    np.round(box_resample(px, height, width)), 0, 255
                ).astype(np.uint8)
                out["width"].append(int(px.shape[1]))
                out["height"].append(int(px.shape[0]))
                out["thumb"].append(png_encode(small))
            yield pd.DataFrame(out)

    return df.select(
        F.col(id_col).alias("path"), bin_col
    ).mapInPandas(batches, RESIZE_SCHEMA)


def audio_dhash64(mono) -> int:
    """64-bit perceptual audio fingerprint: the dHash idea applied to
    the loudness envelope — 65 equal-length frames, per-frame RMS
    energy, bit i = 1 iff energy[i+1] > energy[i]. Volume-invariant by
    construction (a global gain scales every frame equally and cannot
    flip a comparison) and stable across bit depth / channel layout /
    moderate resampling; unrelated clips land ~32 bits apart. Pure
    numpy, deterministic; returns a SIGNED 64-bit int."""
    import numpy as np

    x = np.asarray(mono, dtype=np.float64)
    n = len(x)
    frames = 65
    edges = np.linspace(0, n, frames + 1, dtype=np.int64)
    e = np.array(
        [
            float(np.mean(x[a:b] ** 2)) if b > a else 0.0
            for a, b in zip(edges[:-1], edges[1:])
        ]
    )
    v = 0
    for i in range(64):
        if e[i + 1] > e[i]:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def _image_blob_dhash(blob) -> int | None:
    gray = None if blob is None else _decode_gray(bytes(blob))
    return None if gray is None else dhash64_gray(gray)


def _audio_blob_dhash(blob) -> int | None:
    dec = None if blob is None else audio_decode_array(bytes(blob))
    return None if dec is None else audio_dhash64(dec[1])


# per-blob dHash kernels: blob (or None) -> signed 64-bit hash, None when
# the blob is NULL or undecodable
_DHASH_KERNELS = {"image": _image_blob_dhash, "audio": _audio_blob_dhash}


def _dhash_kernel(kind: str):
    if kind not in _DHASH_KERNELS:
        raise ValueError(f"kind must be image|audio, got {kind!r}")
    return _DHASH_KERNELS[kind]


def dhash(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "path",
    kind: str = "image",
) -> DataFrame:
    """Per-blob 64-bit perceptual dHash over the REAL decoders.
    ``kind="image"``: the shared ``decode_image_blob`` chain (PNG,
    baseline+progressive JPEG, GIF, BMP, TIFF, lossless WebP) →
    ``dhash64_gray``. ``kind="audio"``: ``audio_decode_array`` (the WAV
    family, FLAC, AIFF/AIFC, MPEG-1 Layer I/III, Ogg Vorbis) →
    ``audio_dhash64`` — WAV↔MP3 same-clip pairs fingerprint 0 bits apart
    in the cross-codec test. NULL or undecodable blobs (video, Ogg Opus,
    the MPEG refusal set) yield NULL — one undecodable blob must never
    kill a 100 TB job. Arrow-batched mapInPandas; only (id, 8-byte hash)
    rows ever shuffle downstream. Output (``id_col`` with its input
    type, dhash: long|NULL). Pair with ``dhash_pairs`` for the bucketed
    near-dup join — the media analog of SimHash over text."""
    kernel = _dhash_kernel(kind)
    id_field = df.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("dhash", LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # dtype=object is load-bearing: one NULL (undecodable blob)
            # in a batch would otherwise coerce the column to float64,
            # silently mangling the low ~11 bits of EVERY hash > 2^53
            # in that batch — false hamming-0 merges (caught by the r9
            # curate_media_mix fixture; corrupt blobs are certain at
            # crawl scale, so mixed batches are the norm, not the edge)
            yield pd.DataFrame(
                {
                    id_col: list(pdf[id_col]),
                    "dhash": pd.Series(
                        [kernel(b) for b in pdf[bin_col]], dtype="object"
                    ),
                }
            )

    return df.select(id_col, bin_col).mapInPandas(batches, schema)


def dhash_pairs(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "path",
    max_hamming: int = 3,
    bands: int = 4,
    kind: str = "image",
) -> DataFrame:
    """Perceptual near-dup pairs: ``dhash`` signatures of ``kind`` +
    the SAME bit-block band LSH engine SimHash uses
    (``dedup.hamming_band_pairs`` — distinct-signature banded
    self-join, pigeonhole-exact for ``max_hamming <= bands-1``, never
    all-pairs). Undecodable blobs (NULL dhash) are excluded rather than
    clustered together. Output (id_a < id_b, hamming)."""
    from ..session import materialize
    from .dedup import hamming_band_pairs

    sigs = materialize(
        dhash(df, bin_col, id_col, kind).filter(F.col("dhash").isNotNull())
    )
    return hamming_band_pairs(
        sigs, "dhash", id_col, max_hamming=max_hamming, bands=bands
    )


def avi_video_fourcc(blob: bytes):
    """The AVI video stream's codec fourcc from the real
    hdrl → strl → strh/strf walk: ``strf``'s BITMAPINFOHEADER
    ``biCompression`` when set (what players dispatch on), else
    ``strh.fccHandler``. Returns an upper-cased string or ``None``
    (no video stream / malformed). This is the honest screenability
    signal for ``media_decode_coverage`` — a substring sniff over the
    header bytes can both miss real MJPEG and false-positive on
    metadata text."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        return None

    def chunks(pos, end):  # (fourcc, body start, body end within end)
        for cid, s, ln in _riff_chunks(blob, pos, end):
            yield cid, s, min(s + ln, end)

    for cid, s, e in chunks(12, len(blob)):
        if cid != b"LIST" or blob[s : s + 4] != b"hdrl":
            continue
        for cid2, s2, e2 in chunks(s + 4, e):
            if cid2 != b"LIST" or blob[s2 : s2 + 4] != b"strl":
                continue
            is_vids = False
            handler = comp = None
            for cid3, s3, e3 in chunks(s2 + 4, e2):
                if cid3 == b"strh" and e3 - s3 >= 8:
                    is_vids = blob[s3 : s3 + 4] == b"vids"
                    handler = blob[s3 + 4 : s3 + 8]
                elif cid3 == b"strf" and e3 - s3 >= 20:
                    comp = blob[s3 + 16 : s3 + 20]
            if not is_vids:
                continue
            fourcc = (
                comp
                if comp and comp != b"\x00\x00\x00\x00"
                else handler
            )
            if not fourcc or fourcc == b"\x00\x00\x00\x00":
                return None
            try:
                return fourcc.decode("ascii").strip("\x00 ").upper() or None
            except UnicodeDecodeError:
                return None
    return None


AUDIO_META_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("container", StringType()),
        StructField("duration_s", DoubleType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("decodable", BooleanType()),
    ]
)

def flac_streaminfo(blob: bytes):
    """REAL FLAC metadata from the mandatory STREAMINFO block — pure
    stdlib bit unpacking, no audio library (FLAC is how the large
    public speech corpora ship): after the 'fLaC' marker the first
    metadata block must be STREAMINFO (type 0, 34 bytes); bytes 10-17
    of its body pack sample_rate (20 bits), channels-1 (3),
    bits_per_sample-1 (5), total_samples (36). Returns
    ``(sample_rate, channels, bits_per_sample, duration_s|None)`` or
    ``None`` for non-FLAC input."""
    if len(blob) < 42 or blob[:4] != b"fLaC":
        return None
    btype = blob[4] & 0x7F
    blen = int.from_bytes(blob[5:8], "big")
    if btype != 0 or blen < 34:
        return None
    body = blob[8 : 8 + 34]
    packed = int.from_bytes(body[10:18], "big")  # 64 bits
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    if rate == 0:
        return None
    dur = round(total / rate, 6) if total else None
    return (rate, channels, bits, dur)


def mp3_header_info(blob: bytes):
    """MPEG-1 audio metadata from the first Layer I or Layer III frame
    header (the layers the decoder reads; after an optional ID3v2 tag):
    (sample_rate, channels, bitrate_kbps, est_duration_s). Layer III
    duration comes from the Xing/Info VBR header's frame count when
    present (exact for the dominant VBR encodes, r7); otherwise the CBR
    estimate audio_bytes*8/bitrate, with an ID3v1 trailer excluded from
    the byte count. Layer I has no VBR tag: its duration counts whole
    frames of the first frame's size at 384 samples each (exact for an
    unpadded stream). None for non-MPEG input."""
    pos = _skip_id3(blob)[0] if len(blob) > 10 else 0  # ID3v2 tag
    # scan a bounded window for the frame sync (junk prefixes exist)
    end = min(len(blob) - 4, pos + 4096)
    while pos <= end:
        hdr = parse_frame_header(blob, pos)
        if hdr is not None and hdr["layer"] != 2:
            rate, channels = hdr["samplerate"], hdr["channels"]
            br = hdr["bitrate"] // 1000
            audio_bytes = len(blob) - pos
            if blob[-128:-125] == b"TAG":
                audio_bytes -= 128  # ID3v1 trailer is not audio
            if hdr["layer"] == 1:
                nframes = audio_bytes // hdr["frame_bytes"]
                return (rate, channels, br, round(nframes * 384 / rate, 6))
            dur = round(audio_bytes * 8 / (br * 1000), 6)
            # VBR: a Xing/Info header in the first frame's side-info
            # region carries the TRUE frame count (the CBR estimate is
            # wrong for VBR, the common encode). Offset past the 4-byte
            # header (and the 2-byte CRC when protected): MPEG-1 side
            # info is 32 bytes stereo-family / 17 mono.
            crc = 2 if hdr["protection"] else 0
            xoff = pos + 4 + crc + (17 if channels == 1 else 32)
            tag = blob[xoff : xoff + 4]
            if tag in (b"Xing", b"Info") and len(blob) >= xoff + 12:
                flags = int.from_bytes(blob[xoff + 4 : xoff + 8], "big")
                if flags & 0x1:  # frame count present
                    nframes = int.from_bytes(blob[xoff + 8 : xoff + 12], "big")
                    # 1152 samples per MPEG-1 Layer III frame
                    dur = round(nframes * 1152 / rate, 6)
            return (rate, channels, br, dur)
        # false sync (wrong version/layer or reserved bitrate/rate
        # index) — 0xFFEx pairs occur in junk prefixes, so keep
        # scanning the bounded window instead of aborting
        pos += 1
    return None


#: ISO 14496-3 sampling_frequency_index table (indices 13-15 reserved)
_ADTS_RATES = [
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
]
#: channel_configuration -> front-facing channel count (7 = 7.1 -> 8);
#: 0 means "in-band PCE", reported as NULL
_ADTS_CHANNELS = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 6, 7: 8}


def adts_metadata(blob: bytes):
    """Bare ADTS-AAC stream metadata (r10, VERDICT r9 #5):
    ``(sample_rate, channels, duration_s, n_frames)`` from the
    self-describing fixed headers (ISO 13818-7 / 14496-3 §1.A.2) —
    syncword walk over every frame, 1024 samples per raw data block.
    Validation is structural, not a lone sync match: the first frame
    must start at byte 0, at least TWO frames must chain through their
    13-bit frame_length fields, every header must repeat the same
    layer/rate/channel bits, and the walk must either consume the blob
    exactly or end in a truncated final frame (crawl reality). Returns
    ``None`` otherwise — random 0xFFFx pairs inside other codecs never
    false-hit a chained walk. DECODE refuses: AAC spectral data is
    coded against 11 spec-constant Huffman codebooks with no
    structural self-check (the same transcription gate as the MP3 ESC
    tables); the metadata layer is exact regardless."""
    if len(blob) < 14 or blob[0] != 0xFF or (blob[1] & 0xF6) != 0xF0:
        return None
    sfi = (blob[2] >> 2) & 0xF
    if sfi >= len(_ADTS_RATES):
        return None
    rate = _ADTS_RATES[sfi]
    cc = ((blob[2] & 1) << 2) | (blob[3] >> 6)
    fixed = (blob[1], blob[2] & 0xFD, blob[3] & 0xC0)  # minus private bit
    pos = 0
    samples = 0
    nframes = 0
    while pos + 7 <= len(blob):
        if blob[pos] != 0xFF or (blob[pos + 1] & 0xF6) != 0xF0:
            return None  # desync mid-stream: not ADTS
        if (blob[pos + 1], blob[pos + 2] & 0xFD, blob[pos + 3] & 0xC0) != fixed:
            return None  # rate/channel/layer bits must repeat per spec
        flen = (
            ((blob[pos + 3] & 0x3) << 11)
            | (blob[pos + 4] << 3)
            | (blob[pos + 5] >> 5)
        )
        if flen < 7:
            return None
        blocks = (blob[pos + 6] & 0x3) + 1
        samples += 1024 * blocks
        nframes += 1
        pos += flen  # a short FINAL frame (truncated fetch) still counts
    if nframes < 2:
        return None
    return (
        rate,
        _ADTS_CHANNELS.get(cc),
        round(samples / rate, 6),
        nframes,
    )


def ogg_metadata(blob: bytes):
    """Ogg container metadata — pure stdlib page walk: codec + sample
    rate from the first page's id header (OpusHead at fixed offsets;
    Vorbis \x01vorbis id packet), duration from the LAST page's
    granule position (Opus granules are fixed 48 kHz pre-skip-adjusted;
    Vorbis granules are sample counts). Returns
    ``(codec, sample_rate, channels, duration_s|None)`` or ``None``."""
    import struct

    if len(blob) < 58 or blob[:4] != b"OggS":
        return None
    seg_n = blob[26]
    body = 27 + seg_n  # first packet starts after the segment table
    codec = rate = channels = None
    pre_skip = 0
    granule_rate = None
    head = blob[body : body + 64]
    if head[:8] == b"OpusHead" and len(head) >= 19:
        codec = "opus"
        channels = head[9]
        pre_skip = struct.unpack("<H", head[10:12])[0]
        rate = struct.unpack("<I", head[12:16])[0] or 48000
        granule_rate = 48000  # Opus granules are always 48 kHz
    elif head[:7] == b"\x01vorbis" and len(head) >= 16:
        codec = "vorbis"
        channels = head[11]
        rate = struct.unpack("<I", head[12:16])[0]
        granule_rate = rate
    else:
        return None
    dur = None
    last = blob.rfind(b"OggS")
    while last >= 0 and granule_rate:
        # the 4-byte capture pattern can legitimately occur INSIDE
        # compressed packet payloads — validate the candidate as a real
        # page header (version byte 0, plausible header-type flags,
        # segment table in range) and scan backward past impostors
        valid = (
            last + 27 <= len(blob)
            and blob[last + 4] == 0  # stream_structure_version
            and blob[last + 5] <= 0x07  # only 3 defined flag bits
            and last + 27 + blob[last + 26] <= len(blob)
        )
        if valid:
            granule = struct.unpack("<q", blob[last + 6 : last + 14])[0]
            if granule > 0:
                dur = round(max(granule - pre_skip, 0) / granule_rate, 6)
            if granule != -1:
                break  # real final page; -1 = continuation, keep going
        last = blob.rfind(b"OggS", 0, last)
    return (codec, rate, channels, dur)


# -- the media format table --------------------------------------------------
#
# One row per container. Every dispatch site walks it: sniff_kind's
# MAGIC_KINDS, the coverage tier, decode_image_blob, audio_decode_array
# and audio_container_metadata. A blob belongs to the FIRST row whose
# magic it passes, so each magic test exists once, here, and a row's
# ``capable`` header walk is the one answer both the coverage report and
# the ``decodable`` metadata column give. Contract: ``capable`` False
# means ``decode`` returns None (the walk may over-report — a payload
# truncated mid-stream passes the header walk — but never under-reports).


def _refuse(blob: bytes) -> None:
    """Capability, decode and metadata of a row that has none."""
    return None


def _accept(blob: bytes) -> bool:
    return True


class _Format(NamedTuple):
    container: str  # the coverage / metadata label
    kind: str | None  # "image" | "audio" | "video": which decode entry
    magic: tuple[bytes, ...]  # leading bytes, any of; b"" = no prefix
    mime: str | None = None  # sniff_kind's label for the magic prefixes
    test: Callable[[bytes], bool] | None = None  # rest of the magic test
    capable: Callable[[bytes], bool | None] = _refuse  # header walk
    decode: Callable = _refuse  # blob -> pixels / samples, or None
    meta: Callable[[bytes], dict | None] = _refuse  # audio metadata fields
    frames: Callable | None = None  # (blob, every_n, max_frames) -> frames


def _form(*types: bytes):
    """Magic test for RIFF / IFF containers: the form type at 8-12."""
    return lambda b: b[8:12] in types


def _bmp_info_header(blob: bytes) -> bool:
    import struct

    return len(blob) >= 54 and (
        struct.unpack("<I", blob[14:18])[0] in _BMP_INFO_SIZES
    )


def _bmp_supported(blob: bytes) -> bool:
    """Uncompressed BI_RGB or default-mask BITFIELDS; RLE refuses."""
    import struct

    bpp, comp = struct.unpack("<HI", blob[28:34])
    return bpp in (1, 4, 8, 24, 32) and comp in (0, 3)


def _gif_decode_array(blob: bytes):
    """First composited GIF frame as ``(w, h, 3, pixels)`` or None."""
    import numpy as np

    first = next(iter(gif_decode_frames(blob, max_frames=1)), None)
    if first is None:
        return None
    _, w, h, rgb = first
    return (w, h, 3, np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3))


def _gif_sampled_frames(blob: bytes, every_n: int, max_frames: int):
    """``gif_decode_frames`` thinned to every ``every_n``-th frame, at
    most ``max_frames`` of them (``avi_mjpeg_frames``' convention).
    Compositing decodes every frame; only the sampled ones are kept."""
    from itertools import islice

    sampled = (
        f for f in gif_decode_frames(blob, max_frames=every_n * max_frames)
        if f[0] % every_n == 0
    )
    return islice(sampled, max_frames)


def _wav_supported(blob: bytes) -> bool:
    fmt, _data = _wav_fmt_data(blob)
    return fmt is not None and _wav_fmt_decodable(fmt[0], fmt[5])


_META = ("duration_s", "sample_rate", "channels", "bits_per_sample")
_RATE_CH = ("sample_rate", "channels")


def _fields(got, *names: str):
    """A parser's result tuple as metadata fields, by position (names
    outside ``AUDIO_META_SCHEMA`` are dropped)."""
    return None if got is None else dict(zip(names, got))


def _wav_meta(blob: bytes):
    # any fmt code: rate/channels/bits even for codecs the decoder refuses
    fmt, data = _wav_fmt_data(blob)
    if fmt is None:
        return None
    _code, ch, rate, brate, _align, bits = fmt
    dur = round(data[1] / brate, 6) if data is not None and brate else None
    return _fields((dur, rate, ch, bits), *_META)


def _aiff_supported(blob: bytes) -> bool:
    comm = _aiff_comm(blob)
    return comm is not None and comm[4].lower() in _AIFC_DECODABLE


def _aiff_meta(blob: bytes):
    comm = _aiff_comm(blob)
    if comm is None:
        return None
    ch, frames, bits, rate, _comp = comm
    return _fields((round(frames / rate, 6), rate, ch, bits), *_META)


def _ogg_meta(blob: bytes):
    og = ogg_metadata(blob)
    if og is None:
        return None
    codec, rate, ch, dur = og
    return {"container": f"ogg/{codec}", "duration_s": dur,
            "sample_rate": rate, "channels": ch}


# MPEG-1 Layer I/III decode for real; the all-frames side-info screen
# is the capability (see operators/mpegaudio.py for the refusal set)
_MPEG = dict(
    capable=mpeg_stream_supported, decode=mpeg_audio_decode_array,
    meta=lambda b: _fields(mp3_header_info(b), *_RATE_CH, "kbps", "duration_s"),
)

_FORMATS = (
    _Format("png", "image", (_PNG_SIG,), "image/png",
            capable=_accept, decode=png_decode_array),
    _Format("jpeg", "image", (b"\xff\xd8\xff",), "image/jpeg",
            capable=_accept, decode=jpeg_decode_array),
    _Format("gif", "image", (b"GIF8",), "image/gif", capable=_accept,
            decode=_gif_decode_array, frames=_gif_sampled_frames),
    _Format("tiff", "image", (b"II*\x00", b"MM\x00*"), "image/tiff",
            capable=tiff_supported, decode=tiff_decode_array),
    _Format("bmp", "image", (b"BM",), test=_bmp_info_header,
            capable=_bmp_supported, decode=bmp_decode_array),
    _Format("wav", "audio", (b"RIFF",), "riff", test=_form(b"WAVE"),
            capable=_wav_supported, decode=wav_decode_array, meta=_wav_meta),
    # MJPEG streams decode; other fourccs are compressed video
    _Format("avi", "video", (b"RIFF",), "riff", test=_form(b"AVI "),
            capable=lambda b: avi_video_fourcc(b) == "MJPG",
            frames=avi_mjpeg_frames),
    # lossless VP8L decodes; lossy VP8 is compressed video
    _Format("webp", "image", (b"RIFF",), "riff", test=_form(b"WEBP"),
            capable=webp_supported, decode=vp8l_decode_array),
    _Format("riff", None, (b"RIFF",), "riff", test=lambda b: len(b) >= 12),
    _Format("flac", "audio", (b"fLaC",), capable=_accept,
            decode=flac_decode_array,
            meta=lambda b: _fields(flac_streaminfo(b), *_RATE_CH,
                                   "bits_per_sample", "duration_s")),
    _Format("aiff", "audio", (b"FORM",), test=_form(b"AIFF", b"AIFC"),
            capable=_aiff_supported, decode=aiff_decode_array,
            meta=_aiff_meta),
    _Format("ogg", "audio", (b"OggS",), "audio/ogg",
            capable=vorbis_stream_supported, decode=vorbis_decode_array,
            meta=_ogg_meta),
    # ADTS layer bits (00) also pass the loose MPEG sync below: only the
    # chained frame-length walk proves ADTS, and it must win. Decode
    # refuses (see adts_metadata)
    _Format("aac/adts", "audio", (b"\xff",),
            test=lambda b: adts_metadata(b) is not None,
            meta=lambda b: _fields(adts_metadata(b), *_RATE_CH, "duration_s")),
    _Format("mp3", "audio", (b"ID3",), "audio/mp3", **_MPEG),
    _Format("mp3", "audio", (b"\xff",),
            test=lambda b: len(b) > 1 and b[1] & 0xE0 == 0xE0, **_MPEG),
    # ISO-BMFF: the box type sits at byte 4 behind a size of any value;
    # sniff_kind labels only the usual 3-zero-byte size prefix
    _Format("mp4", "video", (b"\x00\x00\x00", b""), "video/mp4-ish",
            test=lambda b: len(b) >= 12 and b[4:8] == b"ftyp"),
    _Format("webm", "video", (b"\x1a\x45\xdf\xa3",)),
    # MPEG audio behind junk bytes: the decoder's own first-frame scan,
    # so every stream it decodes is mp3. Last, so the scan runs only on
    # blobs no other row claims
    _Format("mp3", "audio", (b"",),
            test=lambda b: _first_frame(b[slice(*_skip_id3(b))]) is not None,
            **_MPEG),
)
_UNKNOWN = _Format("unknown", None, ())

#: sniff_kind's (leading bytes, label) pairs: the rows' magic prefixes
#: Catalyst can compare (the first four bytes)
MAGIC_KINDS: list[tuple[bytes, str]] = list(dict.fromkeys(
    (m[:4], row.mime) for row in _FORMATS if row.mime for m in row.magic if m
))


def _format_of(blob: bytes) -> _Format:
    """The first ``_FORMATS`` row whose magic test ``blob`` passes, else
    ``_UNKNOWN``."""
    for row in _FORMATS:
        if blob.startswith(row.magic) and (row.test is None or row.test(blob)):
            return row
    return _UNKNOWN


def _classify_decode_tier(blob: bytes):
    """(container, screenable) for one blob — the matching row's header
    walk, no decode."""
    row = _format_of(blob)
    return (row.container, bool(row.capable(blob)))


def _audio_meta(blob: bytes) -> dict:
    """``audio_container_metadata``'s fields for one blob: the matching
    audio row's metadata, ``decodable`` from its capability; empty for
    anything else."""
    row = _format_of(blob)
    if row.kind != "audio":
        return {}
    return {"container": row.container, "decodable": bool(row.capable(blob)),
            **(row.meta(blob) or {})}


def audio_container_metadata(
    df: DataFrame, bin_col: str = "content"
) -> DataFrame:
    """Per-clip audio container metadata for curation, from the audio
    rows of ``_FORMATS``: FLAC via STREAMINFO, Ogg Opus/Vorbis via the
    page walk (duration from the last granule; container
    ``ogg/<codec>``), AIFF/AIFC via COMM, ADTS-AAC via the chained
    frame walk, MP3 via the first MPEG frame header (CBR-estimate or
    Xing duration), WAV via the RIFF fmt/data walk (any fmt code — the
    metadata layer reports rate/channels/bits even for codecs the
    decoder refuses). The container is the blob's MAGIC (the loose MPEG
    sync never outranks a WAV, AIFF or ADTS header); fields its parser
    cannot read stay NULL. Filter by rate/channels/duration next to the
    scan, before any decode attempt. Non-audio and unknown blobs yield
    NULL fields, never errors.

    ``decodable`` is the row's capability — the same function
    ``media_decode_coverage`` calls — so the two always agree. False
    means ``audio_decode_array`` returns None (Ogg Opus, ADTS-AAC, the
    MPEG refusal set, WAV fmt codes the decoder lacks); True may still
    decode to None, e.g. a payload truncated mid-stream. A pipeline
    must report the screenable fraction rather than silently
    dHash-screen the decodable minority of a crawl (r6 advice #8)."""
    names = [f.name for f in AUDIO_META_SCHEMA.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in names}
            for path, blob in zip(pdf["path"], pdf[bin_col]):
                got = {"path": path, **_audio_meta(bytes(blob))}
                for k in names:
                    out[k].append(got.get(k))
            yield pd.DataFrame(out)

    return df.select("path", bin_col).mapInPandas(batches, AUDIO_META_SCHEMA)


def _keep_min_per_signature(cur: DataFrame, sigs: DataFrame, id_col: str):
    """Radius-0 perceptual dedup without the pair graph: Hamming 0 is
    signature EQUALITY, an equivalence relation already — the
    transitive closure the connected-components loop would compute IS
    the equal-signature group, so "min id per component" collapses to
    one groupBy. Skips the iterative CC rounds (each a full Spark job)
    AND the banded pair join; undecodable blobs (absent from ``sigs``)
    are never dropped."""
    keep = sigs.groupBy("dhash").agg(F.min(id_col).alias(id_col))
    losers = sigs.join(
        keep.select(id_col), id_col, "left_anti"
    ).select(id_col)
    return cur.join(losers, id_col, "left_anti")


def _dedup_and_cover(cur, bin_col, id_col, max_hamming, bands, kind):
    """Shared tail of ``curate_media``/``curate_audio``: exact byte
    dedup (smallest id per md5 digest keeps), perceptual near-dup
    removal on the ``kind`` dHash, and the decode-coverage report over
    the survivors."""
    from .components import dedup_keep_canonical

    exact_keep = (
        cur.select(F.col(id_col), F.md5(F.col(bin_col)).alias("_dg"))
        .groupBy("_dg")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    cur = cur.join(exact_keep, id_col, "left_semi")
    if max_hamming == 0:
        from ..session import materialize

        sigs = materialize(
            dhash(cur, bin_col, id_col, kind).filter(F.col("dhash").isNotNull())
        )
        survivors = _keep_min_per_signature(cur, sigs, id_col)
    else:
        pairs = dhash_pairs(
            cur, bin_col, id_col, max_hamming=max_hamming, bands=bands, kind=kind
        )
        survivors = dedup_keep_canonical(cur, pairs, id_col=id_col)
    return survivors, media_decode_coverage(survivors, bin_col)


def curate_media(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "path",
    max_bytes: int | None = None,
    min_width: int | None = None,
    min_height: int | None = None,
    max_hamming: int = 3,
    bands: int = 4,
):
    """End-to-end media curation composition — the media counterpart of
    the text tier's clean_corpus/curate_v2 (r7): (1) size gate next to
    the scan, (2) dimension gate via the metadata walks
    (``image_dimensions``, no decode), (3) exact byte dedup on the md5
    digest (smallest id keeps), (4) perceptual near-dup removal —
    ``dhash_pairs`` → connected components → smallest id per cluster
    keeps (``components.dedup_keep_canonical``). Returns
    ``(survivors, coverage)``: the curated frame plus the
    ``media_decode_coverage`` report OVER THE SURVIVORS, so the
    pipeline logs exactly what fraction of what it kept was actually
    perceptually screened (undecodable blobs pass the dHash stage
    unscreened by design — a screen must never drop what it cannot
    read).

    Scale shape: every stage is an existing operator; payload bytes
    move only in the survivor projections — the gates are scan-side
    filters, exact dedup shuffles (digest, id), and the near-dup tier
    shuffles 8-byte signatures through the banded engine."""
    cur = df
    if max_bytes is not None:
        cur = cur.filter(F.length(F.col(bin_col)) <= max_bytes)
    if min_width is not None or min_height is not None:
        # drop only PROVABLY undersized images: unknown dims (audio,
        # opaque payloads, unrecognized containers) survive the gate —
        # the same never-silently-drop-the-unreadable rule the screens
        # follow; the coverage report flags them downstream
        dims = image_dimensions(
            cur.select(F.col(id_col).alias("path"), F.col(bin_col)),
            bin_col,
        ).select(F.col("path").alias(id_col), "width", "height")
        viol = F.lit(False)
        if min_width is not None:
            viol = viol | (F.col("width") < min_width)
        if min_height is not None:
            viol = viol | (F.col("height") < min_height)
        drop_ids = dims.filter(viol).select(id_col)
        cur = cur.join(drop_ids, id_col, "left_anti")
    return _dedup_and_cover(cur, bin_col, id_col, max_hamming, bands, "image")


def curate_audio(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "path",
    min_duration_s: float | None = None,
    max_duration_s: float | None = None,
    min_sample_rate: int | None = None,
    max_hamming: int = 3,
    bands: int = 4,
):
    """Audio counterpart of ``curate_media`` (r7): metadata gate
    (duration/sample-rate from ``audio_container_metadata`` — drops
    only PROVABLY violating clips, unknown metadata survives), exact
    byte dedup (smallest id per digest), perceptual near-dup removal
    via ``dhash_pairs(kind="audio")`` → connected components → canonical keep,
    and the decode-coverage report over the survivors (so a pipeline
    reports "N% of kept audio was actually screened" — Ogg and the
    MPEG refusal set pass the perceptual stage unscreened by design;
    supported MP3 screens for real since late r7). Returns
    ``(survivors, coverage)``."""
    cur = df
    if (min_duration_s is not None or max_duration_s is not None
            or min_sample_rate is not None):
        meta = audio_container_metadata(
            cur.select(F.col(id_col).alias("path"), F.col(bin_col)),
            bin_col,
        ).select(F.col("path").alias(id_col), "duration_s", "sample_rate")
        viol = F.lit(False)
        if min_duration_s is not None:
            viol = viol | (F.col("duration_s") < min_duration_s)
        if max_duration_s is not None:
            viol = viol | (F.col("duration_s") > max_duration_s)
        if min_sample_rate is not None:
            viol = viol | (F.col("sample_rate") < min_sample_rate)
        drop_ids = meta.filter(viol).select(id_col)
        cur = cur.join(drop_ids, id_col, "left_anti")
    return _dedup_and_cover(cur, bin_col, id_col, max_hamming, bands, "audio")
