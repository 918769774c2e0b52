"""Pure-stdlib WebP lossless (VP8L) decoder + minimal encoder — the
last first-class image MIME type of the reference's table
(/root/reference/src/converter/image.rs:29,125: png/jpg/gif/webp/bmp/…)
to get a real decode path here.

Scope (decoder): the complete VP8L lossless bitstream per RFC 9649 —
LSB-first bit reading, canonical prefix codes (simple 1-2-symbol and
normal code-length-coded forms, DEFLATE-style 16/17/18 repeats,
max_symbol early-out), optional meta-prefix entropy image, color cache,
LZ77 backward references (close-neighborhood plane codes 1..120 and
scan-order distances above), and all four transforms (predictor, color,
subtract-green, color-indexing incl. sub-8-bit index packing), applied
inverse in reverse stream order. Lossy VP8 frames need libvpx and raise
:class:`WebpError` (fail loudly, never a wrong answer); a VP8X extended
container is walked to find a VP8L chunk if present.

Scope (encoder): literal ARGB coding with canonical prefix codes,
optional subtract-green transform, optional scan-order LZ77 run
collapsing — enough to build deterministic lossless payloads whose
decode must be byte-exact against generator pixels.

Edge conventions pinned here (both widely implemented but worth
naming): the top-right predictor operand at x = width-1 wraps to the
leftmost, already-decoded pixel of the CURRENT row; palette entries are
delta-decoded cumulatively starting from 0.
"""

from __future__ import annotations

import struct

import numpy as np


class WebpError(ValueError):
    """Not a WebP, or an unsupported (lossy) WebP."""


# --------------------------------------------------------------------------
# bit I/O (VP8L is LSB-first)
# --------------------------------------------------------------------------

class _BitReader:
    def __init__(self, data: bytes):
        # unpack once: per-bit shifting in the symbol loop costs ~3x a
        # plain list index (measured; the decode loop is bit-at-a-time
        # by design of the prefix-code walk)
        self.bits = np.unpackbits(
            np.frombuffer(data, np.uint8), bitorder="little"
        ).tolist()
        self.pos = 0       # bit position
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        p = self.pos
        if p + n > self.nbits:
            raise WebpError("bitstream truncated")
        v = 0
        bits = self.bits
        for i in range(n):
            v |= bits[p + i] << i
        self.pos = p + n
        return v

    def read_bit(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise WebpError("bitstream truncated")
        self.pos = p + 1
        return self.bits[p]


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_MAX_LEN = 15


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical (DEFLATE rule: codes assigned
    in increasing order of length, ties by symbol index)."""
    bl_count = [0] * (_MAX_LEN + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (_MAX_LEN + 2)
    for ln in range(1, _MAX_LEN + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _PrefixCode:
    """Decoder for one canonical prefix code, read MSB-of-code-first one
    bit at a time (the VP8L tree-walk order). The walk is inlined over
    the reader's bit list with one dict per code length — the symbol
    loop is the whole-decode hotspot (profiled: method-call bit reads
    plus tuple-keyed lookups were ~70% of decode time)."""

    __slots__ = ("maps", "single")

    def __init__(self, lengths: list[int]):
        nz = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise WebpError("prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][0]
            self.maps = None
            return
        self.single = None
        # Kraft check: over-subscribed or incomplete codes are invalid
        kraft = sum(1 << (_MAX_LEN - ln) for _, ln in nz)
        if kraft != 1 << _MAX_LEN:
            raise WebpError("invalid prefix code (Kraft sum mismatch)")
        self.maps: list[dict[int, int] | None] = [None] * (_MAX_LEN + 1)
        for sym, (code, ln) in _canonical_codes(lengths).items():
            if self.maps[ln] is None:
                self.maps[ln] = {}
            self.maps[ln][code] = sym

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        bits = br.bits
        p = br.pos
        end = br.nbits
        code = 0
        maps = self.maps
        for ln in range(1, _MAX_LEN + 1):
            if p >= end:
                raise WebpError("bitstream truncated")
            code = (code << 1) | bits[p]
            p += 1
            m = maps[ln]
            if m is not None:
                sym = m.get(code)
                if sym is not None:
                    br.pos = p
                    return sym
        raise WebpError("prefix code read past max length")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    lengths = [0] * alphabet_size
    if br.read_bit():  # simple code
        num_symbols = br.read(1) + 1
        first_8bits = br.read_bit()
        sym0 = br.read(8 if first_8bits else 1)
        if sym0 >= alphabet_size:
            raise WebpError("simple-code symbol out of range")
        lengths[sym0] = 1
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet_size or sym1 == sym0:
                raise WebpError("simple-code symbol invalid")
            lengths[sym1] = 1
        return _PrefixCode(lengths)
    # normal: code lengths themselves prefix-coded
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(cl_lengths)
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        sym = cl_code.decode(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev_len = sym
        elif sym == 16:
            rep = 3 + br.read(2)
            if i + rep > alphabet_size:
                raise WebpError("code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[i] = prev_len
                i += 1
        elif sym == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
        if i > alphabet_size:
            raise WebpError("code-length repeat overruns alphabet")
    return _PrefixCode(lengths)


# --------------------------------------------------------------------------
# LZ77 prefix values and the close-neighborhood distance map
# --------------------------------------------------------------------------

def _prefix_value(code: int, br: _BitReader) -> int:
    """length/distance prefix decoding: 40 codes, codes >= 4 carry
    (code-2)>>1 extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _neighbor_map() -> list[tuple[int, int]]:
    """The 120 close-neighborhood (xoffset, yoffset) pairs for distance
    codes 1..120 (xoffset > 0 = to the left). Derived, not transcribed:
    candidates are the window yoffset 0..7 x xoffset -7..8 (yoffset 0
    restricted to xoffset >= 1 — strictly-preceding pixels), sorted by
    squared Euclidean distance, ties by larger yoffset first, then
    larger xoffset first — which reproduces the spec table's order
    ((0,1) above, (1,0) left, (1,1), (-1,1), (0,2), (2,0), ...).
    Exactly 120 candidates exist, so the window is the table."""
    cands = []
    for dy in range(8):
        for dx in range(-7, 9):
            if dy == 0 and dx < 1:
                continue
            cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    assert len(cands) == 120
    return cands


_NEIGHBOR_MAP = _neighbor_map()


def _plane_code_to_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _NEIGHBOR_MAP[code - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


def _distance_to_plane_code(dist: int) -> int:
    """Encoder side: scan-order distance -> code (always the >120 form;
    the neighborhood form is an optional size optimization)."""
    return dist + 120


# --------------------------------------------------------------------------
# image-stream decoding
# --------------------------------------------------------------------------

_GREEN, _RED, _BLUE, _ALPHA, _DIST = range(5)


def _alphabet_sizes(cache_bits: int) -> list[int]:
    cache = (1 << cache_bits) if cache_bits else 0
    return [256 + 24 + cache, 256, 256, 256, 40]


def _cache_key(argb: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _decode_image_stream(br: _BitReader, w: int, h: int, level0: bool,
                         max_pixels: int):
    """Decode one VP8L entropy-coded image (the ARGB image when
    ``level0``, else a transform/entropy sub-image). Returns
    (pixels uint32 array of length w*h, transforms list) — transforms
    non-empty only at level 0."""
    if w <= 0 or h <= 0 or w * h > max_pixels:
        raise WebpError(f"image dimensions {w}x{h} out of budget")
    transforms = []
    if level0:
        seen = set()
        while br.read_bit():
            ttype = br.read(2)
            if ttype in seen:
                raise WebpError("duplicate transform")
            seen.add(ttype)
            if ttype == 2:  # subtract green: no payload
                transforms.append(("subtract_green",))
            elif ttype in (0, 1):  # predictor / color
                size_bits = br.read(3) + 2
                bw = (w + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub, _ = _decode_image_stream(br, bw, bh, False, max_pixels)
                transforms.append((
                    "predictor" if ttype == 0 else "color",
                    size_bits, sub,
                ))
            else:  # 3: color indexing
                n_colors = br.read(8) + 1
                pal_raw, _ = _decode_image_stream(br, n_colors, 1, False,
                                                  max_pixels)
                # delta-coded: cumulative per-channel sums from 0
                pal = np.zeros(n_colors, np.uint32)
                acc = np.zeros(4, np.uint32)
                for i in range(n_colors):
                    px = int(pal_raw[i])
                    acc = (acc + np.array(
                        [(px >> 24) & 0xFF, (px >> 16) & 0xFF,
                         (px >> 8) & 0xFF, px & 0xFF], np.uint32)) & 0xFF
                    pal[i] = (int(acc[0]) << 24) | (int(acc[1]) << 16) | \
                             (int(acc[2]) << 8) | int(acc[3])
                if n_colors <= 2:
                    xbits = 3
                elif n_colors <= 4:
                    xbits = 2
                elif n_colors <= 16:
                    xbits = 1
                else:
                    xbits = 0
                transforms.append(("color_indexing", n_colors, xbits, pal))
                w = (w + (1 << xbits) - 1) >> xbits  # packed width

    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebpError(f"invalid color-cache bits {cache_bits}")
    cache = [0] * ((1 << cache_bits) if cache_bits else 0)

    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta, _ = _decode_image_stream(br, mw, mh, False, max_pixels)
        n_groups = int(max((int(px) >> 8) & 0xFFFF for px in meta)) + 1

    sizes = _alphabet_sizes(cache_bits)
    groups = [
        [_read_prefix_code(br, sizes[c]) for c in range(5)]
        for _ in range(n_groups)
    ]

    n = w * h
    out = np.zeros(n, np.uint32)
    pos = 0
    mw = (w + (1 << meta_bits) - 1) >> meta_bits if meta is not None else 0
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            mpx = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            g = groups[(mpx >> 8) & 0xFFFF]
        else:
            g = groups[0]
        s = g[_GREEN].decode(br)
        if s < 256:
            r = g[_RED].decode(br)
            b = g[_BLUE].decode(br)
            a = g[_ALPHA].decode(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            if cache_bits:
                cache[_cache_key(px, cache_bits)] = px
            pos += 1
        elif s < 256 + 24:
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(g[_DIST].decode(br), br)
            dist = _plane_code_to_distance(dist_code, w)
            if dist > pos:
                raise WebpError("LZ77 distance before image start")
            if pos + length > n:
                raise WebpError("LZ77 copy past image end")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache_bits:
                    cache[_cache_key(px, cache_bits)] = px
                pos += 1
        else:
            idx = s - 256 - 24
            if not cache_bits or idx >= len(cache):
                raise WebpError("color-cache reference without cache")
            out[pos] = cache[idx]
            pos += 1
    return out, transforms


# --------------------------------------------------------------------------
# inverse transforms
# --------------------------------------------------------------------------

def _channels(px: int) -> tuple[int, int, int, int]:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _pack(a, r, g, b) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _avg2_px(p1: int, p2: int) -> int:
    a1, r1, g1, b1 = _channels(p1)
    a2, r2, g2, b2 = _channels(p2)
    return _pack((a1 + a2) // 2, (r1 + r2) // 2, (g1 + g2) // 2,
                 (b1 + b2) // 2)


def _select(l: int, t: int, tl: int) -> int:
    pa = pr = 0
    for cl, ct, ctl in zip(_channels(l), _channels(t), _channels(tl)):
        p = cl + ct - ctl
        pa += abs(p - cl)  # predict T error
        pr += abs(p - ct)  # predict L error
    return l if pr <= pa else t


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    return _pack(*[
        _clamp(cl + ct - ctl)
        for cl, ct, ctl in zip(_channels(l), _channels(t), _channels(tl))
    ])


def _clamp_add_sub_half(ave: int, tl: int) -> int:
    out = []
    for ca, ctl in zip(_channels(ave), _channels(tl)):
        out.append(_clamp(ca + (ca - ctl) // 2))
    return _pack(*out)


def _predict(mode: int, l: int, t: int, tr: int, tl: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2_px(_avg2_px(l, tr), t)
    if mode == 6:
        return _avg2_px(l, tl)
    if mode == 7:
        return _avg2_px(l, t)
    if mode == 8:
        return _avg2_px(tl, t)
    if mode == 9:
        return _avg2_px(t, tr)
    if mode == 10:
        return _avg2_px(_avg2_px(l, tl), _avg2_px(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(_avg2_px(l, t), tl)
    raise WebpError(f"invalid predictor mode {mode}")


def _add_px(residual: int, pred: int) -> int:
    ra, rr, rg, rb = _channels(residual)
    pa, pr, pg, pb = _channels(pred)
    return _pack((ra + pa) & 0xFF, (rr + pr) & 0xFF, (rg + pg) & 0xFF,
                 (rb + pb) & 0xFF)


def _inverse_predictor(px: np.ndarray, w: int, h: int, size_bits: int,
                       sub: np.ndarray) -> np.ndarray:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = px.copy()
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                mode = 0
            elif y == 0:
                mode = 1  # first row: L
            elif x == 0:
                mode = 2  # first column: T
            else:
                mpx = int(sub[(y >> size_bits) * bw + (x >> size_bits)])
                mode = (mpx >> 8) & 0xFF
            l = int(out[i - 1]) if x > 0 else 0
            t = int(out[i - w]) if y > 0 else 0
            tl = int(out[i - w - 1]) if (x > 0 and y > 0) else 0
            if y > 0:
                # x = w-1 wraps to the leftmost pixel of the current row
                tr = int(out[i - w + 1]) if x < w - 1 else int(out[i - x])
            else:
                tr = 0
            out[i] = _add_px(int(px[i]), _predict(mode, l, t, tr, tl))
    return out


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: both operands as signed 8-bit."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inverse_color_transform(px: np.ndarray, w: int, h: int,
                             size_bits: int, sub: np.ndarray) -> np.ndarray:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = px.copy()
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = int(sub[(y >> size_bits) * bw + (x >> size_bits)])
            red_to_blue = (cte >> 16) & 0xFF
            green_to_blue = (cte >> 8) & 0xFF
            green_to_red = cte & 0xFF
            a, r, g, b = _channels(int(out[i]))
            r = (r + _ct_delta(green_to_red, g)) & 0xFF
            b = (b + _ct_delta(green_to_blue, g)
                 + _ct_delta(red_to_blue, r)) & 0xFF
            out[i] = _pack(a, r, g, b)
    return out


def _inverse_subtract_green(px: np.ndarray) -> np.ndarray:
    a = (px >> 24) & 0xFF
    r = (px >> 16) & 0xFF
    g = (px >> 8) & 0xFF
    b = px & 0xFF
    r = (r + g) & 0xFF
    b = (b + g) & 0xFF
    return ((a << 24) | (r << 16) | (g << 8) | b).astype(np.uint32)


def _inverse_color_indexing(px: np.ndarray, w: int, h: int, n_colors: int,
                            xbits: int, pal: np.ndarray) -> np.ndarray:
    packed_w = (w + (1 << xbits) - 1) >> xbits
    bits_per = 8 >> xbits
    mask = (1 << bits_per) - 1
    out = np.zeros(w * h, np.uint32)
    for y in range(h):
        for x in range(w):
            gpx = int(px[y * packed_w + (x >> xbits)])
            green = (gpx >> 8) & 0xFF
            shift = (x & ((1 << xbits) - 1)) * bits_per
            idx = (green >> shift) & mask
            if idx >= n_colors:
                raise WebpError("palette index out of range")
            out[y * w + x] = pal[idx]
    return out


# --------------------------------------------------------------------------
# public decode API
# --------------------------------------------------------------------------

MAGIC = b"RIFF"
MAX_PIXELS = 64 << 20  # budget guard, like kernels/png.py


def decode_vp8l(chunk: bytes, max_pixels: int = MAX_PIXELS) -> dict:
    """Decode a raw VP8L chunk body (signature byte onward)."""
    br = _BitReader(chunk)
    if br.read(8) != 0x2F:
        raise WebpError("bad VP8L signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    has_alpha = br.read_bit()
    version = br.read(3)
    if version != 0:
        raise WebpError(f"unsupported VP8L version {version}")
    if w * h > max_pixels:
        raise WebpError(f"image {w}x{h} exceeds pixel budget")
    px, transforms = _decode_image_stream(br, w, h, True, max_pixels)
    for t in reversed(transforms):
        if t[0] == "subtract_green":
            px = _inverse_subtract_green(px)
        elif t[0] == "predictor":
            px = _inverse_predictor(px, w, h, t[1], t[2])
        elif t[0] == "color":
            px = _inverse_color_transform(px, w, h, t[1], t[2])
        else:  # color_indexing
            px = _inverse_color_indexing(px, w, h, t[1], t[2], t[3])
    # ARGB words -> interleaved RGBA bytes
    rgba = np.zeros((h * w, 4), np.uint8)
    rgba[:, 0] = (px >> 16) & 0xFF
    rgba[:, 1] = (px >> 8) & 0xFF
    rgba[:, 2] = px & 0xFF
    rgba[:, 3] = (px >> 24) & 0xFF
    return {
        "width": w,
        "height": h,
        "channels": 4,
        "has_alpha": bool(has_alpha),
        "pixels": rgba.tobytes(),
    }


def decode_webp(data: bytes, max_pixels: int = MAX_PIXELS) -> dict:
    """Decode a WebP container. Lossless (VP8L) decodes fully; lossy
    (VP8) raises — a wrong answer is worse than no answer."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise WebpError("not a RIFF/WEBP file")
    pos = 12
    saw_lossy = False
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise WebpError(f"truncated chunk {cid!r}")
        if cid == b"VP8L":
            return decode_vp8l(body, max_pixels)
        if cid == b"VP8 ":
            saw_lossy = True
        pos += 8 + size + (size & 1)
    if saw_lossy:
        raise WebpError(
            "lossy VP8 WebP requires libvpx — not present in this "
            "container; only VP8L (lossless) decodes here"
        )
    raise WebpError("no VP8L chunk found")


# --------------------------------------------------------------------------
# minimal encoder
# --------------------------------------------------------------------------

def _huffman_lengths(freqs: dict[int, int], max_len: int = _MAX_LEN) -> dict:
    """Code lengths from frequencies (heap Huffman); if the tree would
    exceed ``max_len`` (skewed inputs), fall back to the flattest
    Kraft-complete assignment: n leaves at depths differing by <= 1."""
    import heapq

    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, i, [s]) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = {s: 0 for s in freqs}
    i = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, i, s1 + s2))
        i += 1
    if max(depth.values()) > max_len:
        n = len(freqs)
        uniform = (n - 1).bit_length()
        short = (1 << uniform) - n  # this many codes one bit shorter
        depth = {}
        for j, s in enumerate(sorted(freqs)):
            depth[s] = uniform - 1 if j < short else uniform
    return depth


def _emit_code_msb(bw: _BitWriter, code: int, nbits: int) -> None:
    """Prefix-code bits are consumed root-first by the decoder, so emit
    the canonical code MSB-first."""
    for b in range(nbits - 1, -1, -1):
        bw.write((code >> b) & 1, 1)


def _write_code(bw: _BitWriter, lengths_map: dict[int, int],
                alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Emit one prefix code (simple form when <= 2 low symbols, else the
    normal code-length-coded form, every length literal — spec-valid,
    just not size-optimal) and return symbol -> (code, nbits) with
    nbits=0 for a single-symbol code (the decoder reads no bits)."""
    syms = sorted(lengths_map)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple form
        bw.write(len(syms) - 1, 1)
        first_8 = 0 if syms[0] <= 1 else 1
        bw.write(first_8, 1)
        bw.write(syms[0], 8 if first_8 else 1)
        if len(syms) == 1:
            return {syms[0]: (0, 0)}
        bw.write(syms[1], 8)
        return {syms[0]: (0, 1), syms[1]: (1, 1)}
    bw.write(0, 1)  # normal form
    lengths = [0] * alphabet_size
    for s, ln in lengths_map.items():
        lengths[s] = ln
    cl_freq: dict[int, int] = {}
    for ln in lengths:
        cl_freq[ln] = cl_freq.get(ln, 0) + 1
    cl_lengths_map = _huffman_lengths(cl_freq)
    cl_lengths = [0] * 19
    for ln, cl in cl_lengths_map.items():
        cl_lengths[ln] = cl
    num_codes = max(
        4,
        1 + max(i for i, o in enumerate(_CL_ORDER) if cl_lengths[o]),
    )
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol early-out: all lengths literal
    if len(cl_lengths_map) == 1:
        cl_codes = {next(iter(cl_lengths_map)): (0, 0)}  # 0-bit code
    else:
        cl_codes = _canonical_codes(cl_lengths)
    for ln in lengths:
        code, nbits = cl_codes[ln]
        _emit_code_msb(bw, code, nbits)
    return _canonical_codes(lengths)


def _emit(bw: _BitWriter, codes: dict[int, tuple[int, int]], sym: int):
    code, nbits = codes[sym]
    _emit_code_msb(bw, code, nbits)


def _split_prefix_value(value: int) -> tuple[int, int, int]:
    """Inverse of :func:`_prefix_value`: value -> (symbol, extra bits
    value, extra bit count)."""
    u = value - 1
    if u < 4:
        return u, 0, 0
    ebits = u.bit_length() - 2
    base = 1 << (ebits + 1)
    if u < base + (base >> 1):
        return 2 * ebits + 2, u - base, ebits
    return 2 * ebits + 3, u - base - (base >> 1), ebits


def _write_entropy_image(bw: _BitWriter, px, level0: bool,
                         use_lz77: bool = False) -> None:
    """Emit one entropy-coded image body (cache-bit, meta-bit at level
    0, the five prefix codes, then tokens) for ARGB words ``px``. Also
    used by tests to hand-build transform sub-images."""
    bw.write(0, 1)  # no color cache
    if level0:
        bw.write(0, 1)  # no meta prefix image

    # tokenize: literals, plus runs of the previous pixel as (len, 1)
    tokens: list[tuple] = []
    n = len(px)
    i = 0
    while i < n:
        if use_lz77 and i > 0:
            run = 0
            while i + run < n and px[i + run] == px[i - 1] and run < 4095:
                run += 1
            if run >= 3:
                tokens.append(("copy", run, 1))
                i += run
                continue
        tokens.append(("lit", int(px[i])))
        i += 1

    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            a, r, g, b = _channels(t[1])
            gf[g] = gf.get(g, 0) + 1
            rf[r] = rf.get(r, 0) + 1
            bf[b] = bf.get(b, 0) + 1
            af[a] = af.get(a, 0) + 1
        else:
            lsym, _, _ = _split_prefix_value(t[1])
            gf[256 + lsym] = gf.get(256 + lsym, 0) + 1
            dsym, _, _ = _split_prefix_value(_distance_to_plane_code(t[2]))
            df[dsym] = df.get(dsym, 0) + 1
    for f in (rf, bf, af, df):
        if not f:
            f[0] = 1  # unused alphabet still needs a valid code

    g_codes = _write_code(bw, _huffman_lengths(gf), 256 + 24)
    r_codes = _write_code(bw, _huffman_lengths(rf), 256)
    b_codes = _write_code(bw, _huffman_lengths(bf), 256)
    a_codes = _write_code(bw, _huffman_lengths(af), 256)
    d_codes = _write_code(bw, _huffman_lengths(df), 40)

    for t in tokens:
        if t[0] == "lit":
            a, r, g, b = _channels(t[1])
            _emit(bw, g_codes, g)
            _emit(bw, r_codes, r)
            _emit(bw, b_codes, b)
            _emit(bw, a_codes, a)
        else:
            lsym, lextra, lbits = _split_prefix_value(t[1])
            _emit(bw, g_codes, 256 + lsym)
            bw.write(lextra, lbits)
            dsym, dextra, dbits = _split_prefix_value(
                _distance_to_plane_code(t[2]))
            _emit(bw, d_codes, dsym)
            bw.write(dextra, dbits)


def encode_vp8l(width: int, height: int, rgba: bytes,
                subtract_green: bool = False, use_lz77: bool = True) -> bytes:
    """Encode interleaved RGBA pixels as a VP8L chunk body: literal
    coding with canonical prefix codes, an optional subtract-green
    transform, and optional scan-order LZ77 collapsing of runs of the
    previous pixel (emitted via distance codes > 120, so decode
    exercises the general-distance path). Lossless by construction."""
    arr = np.frombuffer(rgba, np.uint8)
    if arr.size != width * height * 4:
        raise WebpError("pixel buffer size mismatch")
    arr = arr.reshape(-1, 4).astype(np.uint32)
    px = (arr[:, 3] << 24) | (arr[:, 0] << 16) | (arr[:, 1] << 8) | arr[:, 2]
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if bool((arr[:, 3] != 255).any()) else 0, 1)
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)  # a transform follows
        bw.write(2, 2)  # SUBTRACT_GREEN
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) - g) & 0xFF
        b = ((px & 0xFF) - g) & 0xFF
        px = (px & 0xFF00FF00) | (r << 16) | b
    bw.write(0, 1)  # no more transforms
    _write_entropy_image(bw, px, level0=True, use_lz77=use_lz77)
    return bw.tobytes()


def encode_webp(width: int, height: int, rgba: bytes,
                subtract_green: bool = False, use_lz77: bool = True) -> bytes:
    """Wrap an encoded VP8L chunk in the RIFF/WEBP container."""
    chunk = encode_vp8l(width, height, rgba, subtract_green, use_lz77)
    body = chunk + (b"\x00" if len(chunk) & 1 else b"")
    vp8l = b"VP8L" + struct.pack("<I", len(chunk)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(vp8l)) + b"WEBP" + vp8l
