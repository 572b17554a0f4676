"""WebP lossless (VP8L) pixel decode — pure Python/numpy, no codec
library.

Scope and honesty (same standard as the other codecs in this repo)
------------------------------------------------------------------
VP8L is decodable under this repo's verifiable-transcription gate
because, like Ogg Vorbis (``vorbiscodec.py``) and unlike VP8/H.264,
its entropy coding is SELF-DESCRIBING: every prefix code's length
vector travels in the stream, and a corrupt read fails the Kraft
completeness validator loudly instead of decoding garbage. Supported
for real: the full prefix-code machinery (simple + normal codes,
code-length codes with 16/17/18 repeats, max_symbol budget), color
cache, meta-prefix groups (entropy image), LZ77 with PLAIN distance
codes, and all four transforms — subtract-green, predictor (14
modes), cross-color, and color-indexing with sub-byte pixel bundling.

Deliberate refusals, each loud (clip → ``None``):

* **LZ77 close-neighbor distance codes (1..120)** — these index a
  120-entry (dx, dy) offset table; determination revisited round 10
  for a constructive derivation and REFUSED again, with the analysis
  recorded here. What IS constructive in the spec prose: the window
  (pixels 1-7 rows above within 8 columns left / 7 right, plus the 8
  same-row left pixels — exactly 7*16 + 8 = 120) and an overall
  near-to-far ordering. What is NOT: the order WITHIN equal-distance
  (x²+y²) groups. The spec presents the mapping as an explicit list,
  not a rule; candidate tie-breaks (row-major descending y with
  positive-x-before-negative, which reproduces most groups) conflict
  with the published list in at least the d²=61 group ((6,5) precedes
  (5,6)) and the d²=73 group ((8,3) precedes (5,7)) — hand-built
  quirks with no self-check (any permutation of a tie group still
  covers the window and sorts by distance). A generated table that
  guesses those groups wrong decodes SILENTLY WRONG PIXELS on real
  libwebp output — strictly worse than a loud refusal — so this
  stays under the same transcription gate as the MP3 ESC tables
  (``mpeghuff.py``). Streams using only plain distances (code > 120,
  always available to a conformant encoder) decode fully; a stream
  that selects a neighbor code refuses at that exact symbol. Real
  libwebp output usually uses neighbor codes, so REAL-crawl VP8L
  coverage is partial — ``media_decode_coverage`` classifies webp by
  an actual capability walk of the symbol stream, never by container
  sniffing, so the reported screenable fraction stays honest.
* **VP8 (lossy) and ALPH chunks** — arithmetic/bool-coded against
  large spec-constant probability tables; refused with the
  compressed-video determination (see the ``multimodal`` module notes).

Two remembered-convention caveats, documented rather than hidden
(both verified round-trip against the INDEPENDENT test-side encoder
in ``tests/vp8l_encoder.py`` — own bit writer, own canonical-code
assignment, own forward transforms): the prefix-code bit order
(canonical codes consumed MSB-first from the LSB-first stream, the
DEFLATE/RFC-1951 convention) and the top-right pixel fallback at the
right image edge (clamped to T).

Format: RFC 9649 / the public WebP Lossless Bitstream Specification.
The reference engine (Datamancer) has no image decode at all — this
tier is beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

import struct

import numpy as np


class _Refuse(Exception):
    """Structurally valid stream using a refused feature."""


class _Bad(Exception):
    """Malformed/truncated stream."""


class _Bits:
    """LSB-first bit reader over bytes (VP8L convention)."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.n = len(data) * 8

    def read(self, k: int) -> int:
        p = self.pos
        if p + k > self.n:
            raise _Bad("bitstream overrun")
        v = 0
        data = self.data
        for i in range(k):
            v |= ((data[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + k
        return v

    def read1(self) -> int:
        p = self.pos
        if p >= self.n:
            raise _Bad("bitstream overrun")
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1


#: order in which code-length-code lengths are transmitted (spec table)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _canonical_tree(lengths):
    """Flat binary tree (list; node i -> children 2i+1/2i+2; leaves
    hold (symbol,)) from canonical code lengths — RFC-1951 assignment
    (by length, then symbol), validated for Kraft EQUALITY. A vector
    with exactly one used symbol yields the zero-bit code (decode
    consumes nothing)."""
    used = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if not used:
        raise _Bad("empty code")
    if len(used) == 1:
        return ("single", used[0][1])
    kraft = sum(1.0 / (1 << l) for l, _ in used)
    if abs(kraft - 1.0) > 1e-12:
        raise _Bad("incomplete prefix code")  # the loud validator
    used.sort()
    tree = {}
    code = 0
    prev_len = used[0][0]
    for l, s in used:
        code <<= l - prev_len
        prev_len = l
        # walk MSB-first
        node = 0
        for i in range(l - 1, -1, -1):
            bit = (code >> i) & 1
            nxt = node * 2 + 1 + bit
            if i == 0:
                tree[nxt] = s
            else:
                tree.setdefault(nxt, None)
            node = nxt
        code += 1
    return ("tree", tree)


def _read_symbol(bits: _Bits, tree) -> int:
    if tree[0] == "single":
        return tree[1]
    t = tree[1]
    node = 0
    while True:
        node = node * 2 + 1 + bits.read1()
        v = t.get(node, -1)
        if v is None:
            continue
        if v == -1:
            raise _Bad("invalid code path")
        return v


def _read_prefix_code(bits: _Bits, alphabet_size: int):
    """One prefix code: simple (1-2 symbols) or normal (code-length
    coded lengths)."""
    if bits.read1():  # simple
        num_symbols = bits.read1() + 1
        if bits.read1():
            s0 = bits.read(8)
        else:
            s0 = bits.read1()
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size:
            raise _Bad("simple symbol out of range")
        if num_symbols == 2:
            s1 = bits.read(8)
            if s1 >= alphabet_size or s1 == s0:
                raise _Bad("simple symbol out of range")
            lengths[s0] = 1
            lengths[s1] = 1
        else:
            lengths[s0] = 1
        return _canonical_tree(lengths)
    # normal: code-length code
    num_clc = 4 + bits.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = bits.read(3)
    clc_tree = _canonical_tree(clc_lengths)
    if bits.read1():
        length_nbits = 2 + 2 * bits.read(3)
        max_symbol = 2 + bits.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_nz = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = _read_symbol(bits, clc_tree)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_nz = cl
        elif cl == 16:
            rep = 3 + bits.read(2)
            for _ in range(rep):
                if sym >= alphabet_size:
                    raise _Bad("repeat overflow")
                lengths[sym] = prev_nz
                sym += 1
        elif cl == 17:
            sym += 3 + bits.read(3)
        else:  # 18
            sym += 11 + bits.read(7)
        if sym > alphabet_size:
            raise _Bad("repeat overflow")
    return _canonical_tree(lengths)


def _prefix_value(bits: _Bits, code: int) -> int:
    """LZ77 length/distance prefix decoding (shared algorithmic rule:
    code < 4 -> code+1, else offset + extra bits)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + bits.read(extra) + 1


def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def _read_group(bits: _Bits, cache_bits: int):
    """The 5 prefix codes of one meta group."""
    g = _read_prefix_code(bits, 256 + 24 + (1 << cache_bits if cache_bits else 0))
    r = _read_prefix_code(bits, 256)
    b = _read_prefix_code(bits, 256)
    a = _read_prefix_code(bits, 256)
    d = _read_prefix_code(bits, 40)
    return (g, r, b, a, d)


def _decode_pixels(bits: _Bits, w: int, h: int, toplevel: bool):
    """Entropy-coded ARGB image (spec 'spatially coded image' when
    toplevel): returns np.uint32 array (h*w,) in A<<24|R<<16|G<<8|B
    order. Sub-images (entropy/transform/palette) use toplevel=False
    (no meta groups)."""
    cache_bits = 0
    cache = None
    meta = None
    meta_shift = 0
    n_groups = 1
    # spec stream order: color-cache-info, then huffman-codes (whose
    # first field is the meta prefix-group image, toplevel only)
    if bits.read1():
        cache_bits = bits.read(4)
        if not 1 <= cache_bits <= 11:
            raise _Bad("bad color cache size")
        cache = np.zeros(1 << cache_bits, dtype=np.uint32)
    if toplevel:
        if bits.read1():
            meta_shift = 2 + bits.read(3)
            mw = _div_round_up(w, 1 << meta_shift)
            mh = _div_round_up(h, 1 << meta_shift)
            mimg = _decode_pixels(bits, mw, mh, False)
            meta = ((mimg >> 8) & 0xFFFF).astype(np.int64)
            n_groups = int(meta.max()) + 1
            meta = meta.reshape(mh, mw)
    groups = [_read_group(bits, cache_bits) for _ in range(n_groups)]

    out = np.zeros(w * h, dtype=np.uint32)
    npix = w * h
    pos = 0
    mw = meta.shape[1] if meta is not None else 0
    cache_total = (1 << cache_bits) if cache_bits else 0
    while pos < npix:
        if meta is not None:
            x = pos % w
            y = pos // w
            gidx = int(meta[y >> meta_shift, x >> meta_shift])
            if gidx >= n_groups:
                raise _Bad("meta group out of range")
            gc, rc, bc, ac, dc = groups[gidx]
        else:
            gc, rc, bc, ac, dc = groups[0]
        s = _read_symbol(bits, gc)
        if s < 256:
            red = _read_symbol(bits, rc)
            blue = _read_symbol(bits, bc)
            alpha = _read_symbol(bits, ac)
            px = np.uint32(
                (alpha << 24) | (red << 16) | (s << 8) | blue
            )
            out[pos] = px
            if cache is not None:
                cache[(0x1E35A7BD * int(px)) % (1 << 32) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 256 + 24:
            length = _prefix_value(bits, s - 256)
            dcode_sym = _read_symbol(bits, dc)
            dist_code = _prefix_value(bits, dcode_sym)
            if dist_code <= 120:
                # the refused spec table; see module docstring
                raise _Refuse("LZ77 neighbor distance code")
            dist = dist_code - 120
            if dist < 1:
                dist = 1
            if dist > pos or pos + length > npix:
                raise _Bad("LZ77 out of range")
            for i in range(length):
                px = out[pos - dist + i]
                out[pos + i] = px
                if cache is not None:
                    cache[
                        (0x1E35A7BD * int(px)) % (1 << 32) >> (32 - cache_bits)
                    ] = px
            pos += length
        else:
            idx = s - 256 - 24
            if cache is None or idx >= cache_total:
                raise _Bad("cache miss")
            out[pos] = cache[idx]
            pos += 1
    return out


# -- inverse transforms -------------------------------------------------------


def _inv_subtract_green(argb: np.ndarray):
    g = (argb >> 8) & 0xFF
    r = ((argb >> 16) & 0xFF) + g
    b = (argb & 0xFF) + g
    return (
        (argb & np.uint32(0xFF00FF00))
        | ((r & 0xFF).astype(np.uint32) << 16)
        | (b & 0xFF).astype(np.uint32)
    )


def _avg2(a, b):
    return (
        (((a >> 24) + (b >> 24)) >> 1 << 24)
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1 << 16)
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1 << 8)
        | ((a & 0xFF) + (b & 0xFF)) >> 1
    )


def _clamp_add_sub_full(l, t, tl):
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        v = 0 if v < 0 else (255 if v > 255 else v)
        out |= v << sh
    return out


def _clamp_add_sub_half(ave, tl):
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        # spec's (a - b) / 2 is C division: truncation toward ZERO,
        # not floor — off by one for a < b with odd difference
        d = a - b
        v = a + (abs(d) >> 1) * (1 if d >= 0 else -1)
        v = 0 if v < 0 else (255 if v > 255 else v)
        out |= v << sh
    return out


def _select(l, t, tl):
    pa = 0
    pb = 0
    for sh in (24, 16, 8, 0):
        p = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        pa += abs(p - ((t >> sh) & 0xFF))
        pb += abs(p - ((l >> sh) & 0xFF))
    # spec returns L only when strictly closer (pL < pT); tie -> T
    return l if pb < pa else t


def _inv_predictor(argb: np.ndarray, w: int, h: int, modes: np.ndarray, shift: int):
    px = argb.reshape(h, w)
    out = np.zeros_like(px)
    add = lambda a, b: (  # per-channel modular add
        ((a >> 24) + (b >> 24) & 0xFF) << 24
        | (((a >> 16) & 0xFF) + ((b >> 16) & 0xFF) & 0xFF) << 16
        | (((a >> 8) & 0xFF) + ((b >> 8) & 0xFF) & 0xFF) << 8
        | ((a & 0xFF) + (b & 0xFF) & 0xFF)
    )
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(out[0, x - 1])  # L
            elif x == 0:
                pred = int(out[y - 1, 0])  # T
            else:
                mode = int(modes[y >> shift, x >> shift])
                L = int(out[y, x - 1])
                T = int(out[y - 1, x])
                TL = int(out[y - 1, x - 1])
                # documented convention: TR clamps to T at the right edge
                TR = int(out[y - 1, x + 1]) if x + 1 < w else T
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = _clamp_add_sub_half(_avg2(L, T), TL)
                else:
                    raise _Bad("bad predictor mode")
            out[y, x] = add(int(px[y, x]), pred)
    return out.reshape(-1)


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed-int8 product >> 5 (spec rule)."""
    t8 = t - 256 if t >= 128 else t
    c8 = c - 256 if c >= 128 else c
    return (t8 * c8) >> 5


def _inv_color_transform(argb: np.ndarray, w: int, h: int, cte: np.ndarray, shift: int):
    """Inverse cross-color: green_to_red rides the CTE pixel's BLUE
    channel, green_to_blue its GREEN, red_to_blue its RED (remembered
    packing, exercised round-trip by the independent encoder)."""
    px = argb.reshape(h, w)
    out = px.copy()
    for y in range(h):
        for x in range(w):
            e = int(cte[y >> shift, x >> shift])
            g2r = e & 0xFF
            g2b = (e >> 8) & 0xFF
            r2b = (e >> 16) & 0xFF
            v = int(px[y, x])
            g = (v >> 8) & 0xFF
            r = ((v >> 16) & 0xFF) + _ct_delta(g2r, g)
            r &= 0xFF
            b = (v & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, r)
            b &= 0xFF
            out[y, x] = (v & 0xFF00FF00) | (r << 16) | b
    return out.reshape(-1)


def _inv_palette(argb: np.ndarray, w_coded: int, h: int, palette: np.ndarray, w_real: int):
    """Color-indexing inverse incl. sub-byte bundling: indices ride
    the GREEN channel, packed low-bits-first when palette_size <= 16."""
    psize = len(palette)
    if psize <= 2:
        xbits = 3
    elif psize <= 4:
        xbits = 2
    elif psize <= 16:
        xbits = 1
    else:
        xbits = 0
    px = argb.reshape(h, w_coded)
    out = np.zeros((h, w_real), dtype=np.uint32)
    per = 1 << xbits
    mask = (1 << (8 >> xbits)) - 1
    bitw = 8 >> xbits
    for y in range(h):
        for x in range(w_real):
            packed = int(px[y, x >> xbits]) >> 8 & 0xFF
            idx = (packed >> ((x % per) * bitw)) & mask if xbits else packed
            if idx >= psize:
                raise _Bad("palette index out of range")
            out[y, x] = palette[idx]
    return out.reshape(-1)


# -- top level ----------------------------------------------------------------


def _find_vp8l_payload(blob: bytes):
    """RIFF walk → the VP8L chunk payload (handles VP8X containers);
    None when the file is lossy/absent."""
    if len(blob) < 20 or blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        return None
    pos = 12
    n = len(blob)
    while pos + 8 <= n:
        tag = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = blob[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            return body
        pos += 8 + size + (size & 1)
    return None


def vp8l_decode_array(blob: bytes, dry_run: bool = False):
    """(width, height, 3, uint8 HxWx3 RGB) from a lossless WebP, or
    ``None`` (undecodable/refused/lossy/corrupt — never raises).
    ``dry_run=True`` walks the full symbol stream (same refusal
    surface) but skips the transform/pixel materialization — the cheap
    capability check ``media_decode_coverage`` uses."""
    try:
        payload = _find_vp8l_payload(blob)
        if payload is None or len(payload) < 5 or payload[0] != 0x2F:
            return None
        bits = _Bits(payload[1:])
        w = bits.read(14) + 1
        h = bits.read(14) + 1
        bits.read1()  # alpha hint
        if bits.read(3) != 0:
            return None  # unknown version
        transforms = []
        w_coded = w
        seen = set()
        while bits.read1():
            ttype = bits.read(2)
            if ttype in seen:
                raise _Bad("duplicate transform")
            seen.add(ttype)
            if ttype == 2:  # subtract green
                transforms.append(("sg",))
            elif ttype == 0:  # predictor
                shift = 2 + bits.read(3)
                bs = 1 << shift
                timg = _decode_pixels(
                    bits, _div_round_up(w_coded, bs), _div_round_up(h, bs), False
                )
                modes = ((timg >> 8) & 0xFF).reshape(
                    _div_round_up(h, bs), _div_round_up(w_coded, bs)
                )
                transforms.append(("pred", modes, shift))
            elif ttype == 1:  # cross color
                shift = 2 + bits.read(3)
                bs = 1 << shift
                timg = _decode_pixels(
                    bits, _div_round_up(w_coded, bs), _div_round_up(h, bs), False
                )
                cte = timg.reshape(
                    _div_round_up(h, bs), _div_round_up(w_coded, bs)
                )
                transforms.append(("cc", cte, shift))
            else:  # 3: color indexing
                psize = bits.read(8) + 1
                pimg = _decode_pixels(bits, psize, 1, False)
                # palette entries are delta-coded per channel
                pal = np.zeros(psize, dtype=np.uint32)
                prev = 0
                for i in range(psize):
                    cur = int(pimg[i])
                    e = (
                        (((prev >> 24) + (cur >> 24) & 0xFF) << 24)
                        | ((((prev >> 16) & 0xFF) + ((cur >> 16) & 0xFF) & 0xFF) << 16)
                        | ((((prev >> 8) & 0xFF) + ((cur >> 8) & 0xFF) & 0xFF) << 8)
                        | (((prev & 0xFF) + (cur & 0xFF)) & 0xFF)
                    )
                    pal[i] = e
                    prev = e
                if psize <= 2:
                    xbits = 3
                elif psize <= 4:
                    xbits = 2
                elif psize <= 16:
                    xbits = 1
                else:
                    xbits = 0
                transforms.append(("pal", pal, w_coded))
                w_coded = _div_round_up(w_coded, 1 << xbits)
        argb = _decode_pixels(bits, w_coded, h, True)
        if dry_run:
            return (w, h, 3, None)
        # apply inverses in reverse order of appearance
        cur_w = w_coded
        for t in reversed(transforms):
            if t[0] == "sg":
                argb = _inv_subtract_green(argb)
            elif t[0] == "pred":
                argb = _inv_predictor(argb, cur_w, h, t[1], t[2])
            elif t[0] == "cc":
                argb = _inv_color_transform(argb, cur_w, h, t[1], t[2])
            else:
                argb = _inv_palette(argb, cur_w, h, t[1], t[2])
                cur_w = t[2]
        if cur_w != w:
            raise _Bad("width mismatch after transforms")
        argb = argb.reshape(h, w)
        rgb = np.zeros((h, w, 3), dtype=np.uint8)
        rgb[:, :, 0] = (argb >> 16) & 0xFF
        rgb[:, :, 1] = (argb >> 8) & 0xFF
        rgb[:, :, 2] = argb & 0xFF
        return (w, h, 3, rgb)
    except (_Refuse, _Bad, ValueError, IndexError, OverflowError):
        return None


def webp_supported(blob: bytes) -> bool:
    """True iff this WebP file actually decodes under the refusal
    posture above — a REAL capability walk of the full symbol stream
    (dry run: every prefix code built and validated, every LZ77
    distance checked against the neighbor-map refusal), not container
    sniffing. Lossy VP8/animation → False."""
    return vp8l_decode_array(blob, dry_run=True) is not None
