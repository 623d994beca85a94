"""Pure-stdlib/NumPy WebP (VP8L lossless) codec.

Round-6 coverage item: WebP was the last *common* web container
`decode_image` quarantined (the reference ingests anything PIL opens,
/root/reference/src/utils/inference.py:125). Built from the public
"WebP Lossless Bitstream Specification" (RFC-style, webmproject.org)
with a fixture encoder, same contract as the other from-scratch codecs.

  webp_decode: RIFF/WEBP container (plain and VP8X-extended), VP8L
      chunk: LSB-first bitreader, simple + normal (code-length-coded)
      canonical prefix codes, optional meta prefix-code image, color
      cache, LZ77 backward references with the 120-entry 2D distance
      map, and all four transforms (predictor with the full 14-mode
      set, cross-color, subtract-green, color-indexing incl. sub-byte
      pixel bundling), applied in reverse read order.
  webp_encode: fixture encoder — literal-coded VP8L with optional
      subtract-green / single- and multi-tile predictor / cross-color /
      palette (bundled) transforms, color cache, LZ77 run emission and
      a trivial meta-prefix image, so every decoder path round-trips
      exactly without an external library.

Lossy "VP8 " chunks (a full VP8 intra decoder) raise ValueError ->
callers quarantine; the spec scope here is the lossless format.
"""

from __future__ import annotations

import struct

import numpy as np

from .budget import check_pixels

# Code-length-code symbol order (spec section "Prefix code groups").
_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]

# The 120-entry 2D distance map. The spec lists it literally; the list
# is exactly "all offsets (x in -8..8, y in 0..8, excluding y==0,x<=0)
# sorted by x*x+y*y, ties by larger y first, then positive x first" —
# verified against the first 80 entries of the published table, so we
# generate it instead of transcribing 120 constants.
_DIST_MAP: list[tuple[int, int]] = sorted(
    [
        (x, y)
        for y in range(0, 9)
        for x in range(-8, 9)
        if not (y == 0 and x <= 0)
    ],
    key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], 0 if p[0] >= 0 else 1),
)[:120]


class _BitReader:
    """LSB-first bit reader over little-endian bytes (VP8L convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("truncated VP8L stream")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v

    def peek(self, n: int) -> int:
        """Up to 24 bits without consuming; bits past end-of-stream read
        as 0 (consuming them via skip still raises)."""
        byte = self.pos >> 3
        chunk = int.from_bytes(self.data[byte : byte + 5], "little")
        return (chunk >> (self.pos & 7)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n
        if self.pos > len(self.data) * 8:
            raise ValueError("truncated VP8L stream")


class _BitWriter:
    """LSB-first bit writer. Round-7: packs into a bytearray as it goes
    (the old one appended a Python list element PER BIT — ~1M appends
    per fixture image) and grows a bulk-append path for the vectorized
    literal emission."""

    def __init__(self):
        self._done = bytearray()  # fully packed bytes
        self._acc = 0  # pending bits, LSB-first
        self._nacc = 0

    def write(self, value: int, n: int) -> None:
        self._acc |= (value & ((1 << n) - 1)) << self._nacc
        self._nacc += n
        while self._nacc >= 8:
            self._done.append(self._acc & 0xFF)
            self._acc >>= 8
            self._nacc -= 8

    def write_bit_array(self, bits: np.ndarray) -> None:
        """Append a uint8 0/1 array (already in stream order)."""
        if self._nacc:
            head = np.array(
                [(self._acc >> i) & 1 for i in range(self._nacc)], dtype=np.uint8
            )
            bits = np.concatenate([head, bits])
            self._acc = 0
            self._nacc = 0
        n_whole = (len(bits) >> 3) << 3
        self._done += np.packbits(bits[:n_whole], bitorder="little").tobytes()
        for b in bits[n_whole:]:
            self.write(int(b), 1)

    def bytes(self) -> bytes:
        out = bytearray(self._done)
        if self._nacc:
            out.append(self._acc & 0xFF)
        return bytes(out)


class _PrefixCode:
    """Canonical prefix code (deflate-style ordering, MSB-first reads)."""

    @classmethod
    def simple(cls, syms: list[int]) -> "_PrefixCode":
        """Simple-code table: symbols keep READ order (first symbol is
        code 0 even when numerically larger — libwebp semantics), so
        canonical-by-symbol assignment must not apply."""
        self = cls.__new__(cls)
        if len(syms) == 1:
            self.single = syms[0]
            self.table = {}
            self.codes = {syms[0]: (0, 0)}
        else:
            self.single = None
            self.table = {(1, 0): syms[0], (1, 1): syms[1]}
            self.codes = {syms[0]: (0, 1), syms[1]: (1, 1)}
        return self

    def __init__(self, lengths: list[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise ValueError("empty prefix code")
        if len(nz) == 1:
            self.single: int | None = nz[0][1]
            self.table: dict[tuple[int, int], int] = {}
            self.codes = {nz[0][1]: (0, 0)}
            return
        self.single = None
        max_len = max(l for l, _ in nz)
        bl_count = [0] * (max_len + 1)
        for l, _ in nz:
            bl_count[l] += 1
        code = 0
        next_code = [0] * (max_len + 2)
        for ln in range(1, max_len + 1):
            code = (code + bl_count[ln - 1]) << 1
            next_code[ln] = code
        self.table = {}
        self.codes = {}
        kraft = 0
        for sym, l in enumerate(lengths):
            if l == 0:
                continue
            c = next_code[l]
            next_code[l] += 1
            if c >= (1 << l):
                raise ValueError("over-subscribed prefix code")
            self.table[(l, c)] = sym
            self.codes[sym] = (c, l)
            kraft += 1 << (max_len - l)
        if kraft != (1 << max_len):
            raise ValueError("incomplete prefix code")

    def _build_lut(self) -> None:
        """One-shot lookup table: peek(max_len) -> (symbol, length).
        Prefix-code bits arrive MSB-of-code-first but land at ascending
        stream positions, so the LUT index is the BIT-REVERSED code
        padded with every possible suffix. ~O(1) per symbol vs a
        per-bit tree walk — the decode hot path."""
        max_len = max(l for _c, l in self.codes.values())
        if max_len > 12:  # real-world codes are <= 15; cap table memory
            self._lut = None
            self._lut_bits = 0
            return
        lut: list = [None] * (1 << max_len)
        for sym, (code, l) in self.codes.items():
            rev = 0
            for i in range(l):
                rev |= ((code >> i) & 1) << (l - 1 - i)
            for filler in range(1 << (max_len - l)):
                lut[rev | (filler << l)] = (sym, l)
        self._lut = lut
        self._lut_bits = max_len

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        if not hasattr(self, "_lut"):
            self._build_lut()
        if self._lut is not None:
            hit = self._lut[br.peek(self._lut_bits)]
            if hit is None:
                raise ValueError("invalid prefix code sequence")
            br.skip(hit[1])
            return hit[0]
        code = 0
        length = 0
        while True:
            code = (code << 1) | br.read(1)
            length += 1
            if length > 15:
                raise ValueError("prefix code read overflow")
            sym = self.table.get((length, code))
            if sym is not None:
                return sym

    def encode(self, bw: _BitWriter, sym: int) -> None:
        # MSB-of-code-first at ascending stream positions == one LSB-
        # first write of the bit-reversed code
        bw.write(*self.wpat(sym))

    def wpat(self, sym: int) -> tuple[int, int]:
        """(bit-reversed code, length): the LSB-first writer pattern."""
        cache = getattr(self, "_wpats", None)
        if cache is None:
            cache = self._wpats = {}
            for s, (c, l) in self.codes.items():
                rev = 0
                for i in range(l):
                    rev |= ((c >> i) & 1) << (l - 1 - i)
                cache[s] = (rev, l)
        return cache[sym]


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):  # simple code: 1 or 2 symbols, read order = code order
        num = br.read(1) + 1
        sym0 = br.read(8) if br.read(1) else br.read(1)
        syms = [sym0]
        if num == 2:
            syms.append(br.read(8))
        if any(s >= alphabet_size for s in syms) or len(set(syms)) != num:
            raise ValueError("bad simple-code symbols")
        return _PrefixCode.simple(syms)
    num_codes = br.read(4) + 4
    if num_codes > len(_ORDER):
        raise ValueError("bad code-length code count")
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_ORDER[i]] = br.read(3)
    cl = _PrefixCode(cl_lengths)
    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl.decode(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev = code_len
        else:
            if code_len == 16:
                repeat = br.read(2) + 3
                fill = prev
            elif code_len == 17:
                repeat = br.read(3) + 3
                fill = 0
            else:
                repeat = br.read(7) + 11
                fill = 0
            if symbol + repeat > alphabet_size:
                raise ValueError("prefix code length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _PrefixCode(lengths)


def _prefix_value_decode(br: _BitReader, sym: int) -> int:
    """Length/distance prefix symbol -> value (spec 'LZ77 backward
    reference' value coding)."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_value_encode(v: int) -> tuple[int, int, int]:
    """value -> (symbol, extra_value, extra_bits)."""
    if v <= 4:
        return v - 1, 0, 0
    b = (v - 1).bit_length() - 1
    rest = v - 1 - (1 << b)
    if rest < (1 << (b - 1)):
        return 2 * b, rest, b - 1
    return 2 * b + 1, rest - (1 << (b - 1)), b - 1


_HASH_MUL = 0x1E35A7BD


def _cache_index(argb: int, bits: int) -> int:
    return ((_HASH_MUL * argb) & 0xFFFFFFFF) >> (32 - bits)


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _const_width(code: _PrefixCode) -> int | None:
    """The single code length when every symbol's code has the same
    length (0 for single-symbol codes), else None."""
    lens = {l for _c, l in code.codes.values()}
    return lens.pop() if len(lens) == 1 else None


def _decode_pixels_fast(br: _BitReader, n: int, g) -> np.ndarray | None:
    """Vectorized literal decode for the common stream shape: one code
    group, no meta, no color cache, a green code that cannot emit
    backward references (no symbol >= 256), and constant-width codes on
    every channel. Then symbol i's field sits at a fixed bit offset
    (start + i*W + channel base), so all fields extract in one gather:
    3-byte little-endian windows shifted by (pos & 7), masked, and
    mapped through the code's existing bit-reversed LUT. Returns None
    when the stream shape doesn't qualify (caller falls back to the
    exact scalar loop)."""
    cg = g[0]
    if any(s >= 256 for s in cg.codes):
        return None
    ws = []
    for c in g[:4]:
        cw = _const_width(c)
        if cw is None or cw > 15:
            return None
        ws.append(cw)
    W = sum(ws)
    if W == 0:  # all four channels single-symbol: constant pixels
        val = (g[3].single << 24) | (g[1].single << 16) | (g[0].single << 8) | g[2].single
        return np.full(n, val, dtype=np.uint32)
    if br.pos + n * W > len(br.data) * 8:
        raise ValueError("truncated VP8L stream")
    buf = np.concatenate(
        [np.frombuffer(br.data, dtype=np.uint8), np.zeros(4, np.uint8)]
    ).astype(np.uint32)
    offs = br.pos + np.arange(n, dtype=np.int64) * W
    chans = []
    for c, m in zip(g[:4], ws):
        if m == 0:
            chans.append(np.full(n, c.single, dtype=np.uint32))
            continue
        if not hasattr(c, "_lut"):
            c._build_lut()
        if c._lut is None or c._lut_bits != m:
            return None
        lut_arr = np.array([e[0] for e in c._lut], dtype=np.uint32)
        byte = offs >> 3
        sh = (offs & 7).astype(np.uint32)
        word = buf[byte] | (buf[byte + 1] << 8) | (buf[byte + 2] << 16)
        chans.append(lut_arr[(word >> sh) & np.uint32((1 << m) - 1)])
        offs = offs + m
    br.skip(n * W)
    gv, rv, bv, av = chans
    return (av << 24) | (rv << 16) | (gv << 8) | bv


def _decode_pixels(
    br: _BitReader, w: int, h: int, groups, meta, meta_bits: int, cache_bits: int
) -> np.ndarray:
    n = w * h
    if meta is None and not cache_bits and len(groups) == 1:
        fast = _decode_pixels_fast(br, n, groups[0])
        if fast is not None:
            return fast
    px: list[int] = []
    cache = [0] * (1 << cache_bits) if cache_bits else None
    tiles_w = _subsample(w, meta_bits) if meta is not None else 0
    x = 0
    y = 0
    while len(px) < n:
        if meta is not None:
            mpx = meta[(y >> meta_bits) * tiles_w + (x >> meta_bits)]
            g = groups[((mpx >> 16) & 0xFF) << 8 | ((mpx >> 8) & 0xFF)]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < 256:  # literal: G, R, B, A symbol order
            cr, cb, ca = g[1], g[2], g[3]
            red = cr.single if cr.single is not None else cr.decode(br)
            blue = cb.single if cb.single is not None else cb.decode(br)
            alpha = ca.single if ca.single is not None else ca.decode(br)
            val = (alpha << 24) | (red << 16) | (s << 8) | blue
            px.append(val)
            if cache is not None:
                cache[_cache_index(val, cache_bits)] = val
            x += 1
            if x == w:
                x = 0
                y += 1
        elif s < 280:  # LZ77 backward reference
            length = _prefix_value_decode(br, s - 256)
            dist_code = _prefix_value_decode(br, g[4].decode(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = max(1, dy * w + dx)
            if length > n - len(px) or dist > len(px):
                raise ValueError("VP8L backward reference out of range")
            base = len(px) - dist
            for i in range(length):
                val = px[base + i]
                px.append(val)
                if cache is not None:
                    cache[_cache_index(val, cache_bits)] = val
                x += 1
                if x == w:
                    x = 0
                    y += 1
        else:  # color-cache hit
            if cache is None:
                raise ValueError("cache symbol without color cache")
            idx = s - 280
            if idx >= len(cache):
                raise ValueError("color cache index out of range")
            px.append(cache[idx])
            x += 1
            if x == w:
                x = 0
                y += 1
    return np.array(px, dtype=np.uint32)


def _decode_image_stream(
    br: _BitReader, w: int, h: int, level0: bool
) -> tuple[list[int], int, list]:
    """Returns (pixels, final_width, transforms). Non-level0 streams
    (transform data, palettes, meta images) have no transforms and no
    meta-prefix bit; the color-cache bit is present at every level."""
    transforms: list = []
    cur_w = w
    if level0:
        seen = set()
        while br.read(1):
            t = br.read(2)
            if t in seen:
                raise ValueError("duplicate VP8L transform")
            seen.add(t)
            if t == 0 or t == 1:  # predictor / cross-color
                bits = br.read(3) + 2
                tw, th = _subsample(cur_w, bits), _subsample(h, bits)
                data, _, _ = _decode_image_stream(br, tw, th, False)
                transforms.append((t, bits, data, cur_w))
            elif t == 2:  # subtract-green
                transforms.append((2, 0, None, cur_w))
            else:  # color-indexing
                n_colors = br.read(8) + 1
                pal, _, _ = _decode_image_stream(br, n_colors, 1, False)
                acc = 0
                palette = []
                for p in map(int, pal):  # delta-coded entries
                    acc = (
                        (((acc >> 24) + (p >> 24)) & 0xFF) << 24
                        | ((((acc >> 16) & 0xFF) + ((p >> 16) & 0xFF)) & 0xFF) << 16
                        | ((((acc >> 8) & 0xFF) + ((p >> 8) & 0xFF)) & 0xFF) << 8
                        | (((acc & 0xFF) + (p & 0xFF)) & 0xFF)
                    )
                    palette.append(acc)
                if n_colors <= 2:
                    wb = 3
                elif n_colors <= 4:
                    wb = 2
                elif n_colors <= 16:
                    wb = 1
                else:
                    wb = 0
                transforms.append((3, wb, palette, cur_w))
                cur_w = _subsample(cur_w, wb)
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color-cache bits")
    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.read(1):  # meta prefix-code image
        meta_bits = br.read(3) + 2
        mw, mh = _subsample(cur_w, meta_bits), _subsample(h, meta_bits)
        meta, _, _ = _decode_image_stream(br, mw, mh, False)
        num_groups = (
            max((((int(p) >> 16) & 0xFF) << 8 | ((int(p) >> 8) & 0xFF)) for p in meta) + 1
        )
    cache_size = (1 << cache_bits) if cache_bits else 0
    alphabets = [256 + 24 + cache_size, 256, 256, 256, 40]
    groups = [
        [_read_prefix_code(br, a) for a in alphabets] for _ in range(num_groups)
    ]
    px = _decode_pixels(br, cur_w, h, groups, meta, meta_bits, cache_bits)
    return px, cur_w, transforms


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) >> 1) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8)
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _select(top: int, left: int, tl: int) -> int:
    d = 0
    for sh in (24, 16, 8, 0):
        t, l, c = (top >> sh) & 0xFF, (left >> sh) & 0xFF, (tl >> sh) & 0xFF
        d += abs(l - c) - abs(t - c)  # |pred-top| - |pred-left|
    return top if d <= 0 else left


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a, b = (ave >> sh) & 0xFF, (tl >> sh) & 0xFF
        v = a + int((a - b) / 2)  # trunc toward zero, per C semantics
        out |= max(0, min(255, v)) << sh
    return out


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
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise ValueError(f"bad predictor mode {mode}")


def _add_px(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) & 0xFF) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8)
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _s8v(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int32)
    return np.where(v >= 128, v - 256, v)


def _inverse_predictor(
    px: np.ndarray, tw: int, bits: int, data: np.ndarray
) -> np.ndarray:
    """Predictor inverse. Sequential only where the spec forces it:
    per-tile-segment rows run vectorized for the top-only modes
    (0/2/3/4/8/9), mode 1 is a uint8 cumulative sum, mode 11 (select)
    runs a run-skipping scalar walk (whenever out[x-1] == top[x-1] the
    select provably picks TOP, so a residual==0 run copies the previous
    row wholesale — the dominant case on text-like images), and only
    the remaining left-dependent modes (5/6/7/10/12/13) fall back to
    the per-pixel form. Bit-exact with the old full scalar loop."""
    n = len(px)
    h_rows = n // tw
    tiles_w = _subsample(tw, bits)
    data = np.asarray(data, dtype=np.uint32)
    res_pk = np.ascontiguousarray(px).reshape(h_rows, tw)
    res8 = res_pk.view(np.uint8).reshape(h_rows, tw, 4)  # b,g,r,a (LE)
    out_pk = np.empty((h_rows, tw), dtype=np.uint32)
    out8 = out_pk.view(np.uint8).reshape(h_rows, tw, 4)
    black = np.array([0, 0, 0, 255], dtype=np.uint8)

    def _avg(a8, b8):
        return ((a8.astype(np.uint16) + b8) >> 1).astype(np.uint8)

    # row 0: (0,0) predicts opaque black, the rest predict LEFT -> one
    # wrapping cumulative sum
    row = res8[0].copy()
    row[0] += black
    np.add.accumulate(row, axis=0, dtype=np.uint8, out=out8[0])
    for y in range(1, h_rows):
        p8 = res8[y]
        prev8 = out8[y - 1]
        o8 = out8[y]
        o8[0] = p8[0] + prev8[0]  # column 0 predicts TOP
        trow = (y >> bits) * tiles_w
        p_pk = res_pk[y]
        prev_pk = out_pk[y - 1]
        o_pk = out_pk[y]
        nz = None  # lazily-built nonzero-residual index for mode 11
        tmodes = ((data[trow : trow + tiles_w] >> 8) & 0xFF).tolist()
        x = 1
        while x < tw:
            # merge adjacent tiles with the same mode into one segment
            # (a single global predictor is the common stream shape)
            ti = x >> bits
            mode = tmodes[ti]
            while ti + 1 < tiles_w and tmodes[ti + 1] == mode:
                ti += 1
            tile_end = min((ti + 1) << bits, tw)
            seg = slice(x, tile_end)
            if mode == 0:
                o8[seg] = p8[seg] + black
            elif mode == 2:
                o8[seg] = p8[seg] + prev8[seg]
            elif mode == 3:
                tr8 = np.empty((tile_end - x, 4), np.uint8)
                if tile_end < tw:
                    tr8[:] = prev8[x + 1 : tile_end + 1]
                else:
                    tr8[:-1] = prev8[x + 1 : tw]
                    tr8[-1] = o8[0]  # TR wraps to current row's first px
                o8[seg] = p8[seg] + tr8
            elif mode == 4:
                o8[seg] = p8[seg] + prev8[x - 1 : tile_end - 1]
            elif mode == 8:
                o8[seg] = p8[seg] + _avg(prev8[x - 1 : tile_end - 1], prev8[seg])
            elif mode == 9:
                tr8 = np.empty((tile_end - x, 4), np.uint8)
                if tile_end < tw:
                    tr8[:] = prev8[x + 1 : tile_end + 1]
                else:
                    tr8[:-1] = prev8[x + 1 : tw]
                    tr8[-1] = o8[0]
                o8[seg] = p8[seg] + _avg(prev8[seg], tr8)
            elif mode == 1:
                acc = np.add.accumulate(p8[seg], axis=0, dtype=np.uint8)
                o8[seg] = acc + o8[x - 1]
            elif mode == 11:
                # scalar walk on Python lists (numpy scalar indexing is
                # ~10x the cost of a list element); run-skips copy the
                # previous row wholesale via slice assignment
                if nz is None:
                    p_l = p_pk.tolist()
                    prev_l = prev_pk.tolist()
                    nz = True
                o_l = o_pk.tolist()
                left = o_l[x - 1]
                xx = x
                while xx < tile_end:
                    pv = p_l[xx]
                    if pv == 0 and left == prev_l[xx - 1]:
                        # select picks TOP (l == tl makes d <= 0) and the
                        # residual is 0, so out == prev; the invariant
                        # out[x] == prev[x] then carries the whole run
                        e = xx
                        while e < tile_end and p_l[e] == 0:
                            e += 1
                        o_l[xx:e] = prev_l[xx:e]
                        xx = e
                        left = o_l[xx - 1]
                        continue
                    tp = prev_l[xx]
                    tl = prev_l[xx - 1]
                    d = 0
                    for sh in (24, 16, 8, 0):
                        tc = (tp >> sh) & 255
                        lc = (left >> sh) & 255
                        cc = (tl >> sh) & 255
                        d += abs(lc - cc) - abs(tc - cc)
                    left = _add_px(pv, tp if d <= 0 else left)
                    o_l[xx] = left
                    xx += 1
                o_pk[x:tile_end] = o_l[x:tile_end]
            else:  # left-dependent modes 5/6/7/10/12/13: exact scalar
                p_l = p_pk.tolist()
                prev_l = prev_pk.tolist()
                o_l = o_pk.tolist()
                for xx in range(x, tile_end):
                    l = o_l[xx - 1]
                    tp = prev_l[xx]
                    tl = prev_l[xx - 1]
                    tr = o_l[0] if xx == tw - 1 else prev_l[xx + 1]
                    o_l[xx] = _add_px(p_l[xx], _predict(mode, l, tp, tr, tl))
                o_pk[x:tile_end] = o_l[x:tile_end]
            x = tile_end
    return out_pk.reshape(-1)


def _apply_inverse_transforms(
    px: np.ndarray, h: int, transforms: list
) -> tuple[np.ndarray, int]:
    w = None
    px = np.asarray(px, dtype=np.uint32)
    for t, bits, data, tw in reversed(transforms):
        w = tw
        if t == 2:  # subtract-green inverse
            g = (px >> 8) & 0xFF
            r = (((px >> 16) & 0xFF) + g) & 0xFF
            b = ((px & 0xFF) + g) & 0xFF
            px = (px & 0xFF00FF00) | (r << 16) | b
        elif t == 1:  # cross-color inverse
            tiles_w = _subsample(tw, bits)
            hh = len(px) // tw
            ys = np.repeat(np.arange(hh), tw)
            xs = np.tile(np.arange(tw), hh)
            cte = np.asarray(data, dtype=np.uint32)[
                (ys >> bits) * tiles_w + (xs >> bits)
            ]
            g2r = _s8v(cte & 0xFF)
            g2b = _s8v((cte >> 8) & 0xFF)
            r2b = _s8v((cte >> 16) & 0xFF)
            g = _s8v((px >> 8) & 0xFF)
            red = (((px >> 16) & 0xFF).astype(np.int32) + ((g2r * g) >> 5)) & 0xFF
            blue = (
                (px & 0xFF).astype(np.int32)
                + ((g2b * g) >> 5)
                + ((r2b * _s8v(red)) >> 5)
            ) & 0xFF
            px = (
                (px & 0xFF00FF00)
                | (red.astype(np.uint32) << 16)
                | blue.astype(np.uint32)
            )
        elif t == 0:  # predictor inverse (sequential data dependency)
            px = _inverse_predictor(px, tw, bits, data)
        else:  # color-indexing inverse (+ unbundle)
            palette = np.asarray(data, dtype=np.uint32)
            wb = bits
            if wb == 0:
                idx = (px >> 8) & 0xFF
                if len(idx) and int(idx.max()) >= len(palette):
                    raise ValueError("palette index out of range")
                px = palette[idx]
            else:
                packed_w = _subsample(tw, wb)
                bpi = 8 >> wb  # bits per index
                mask = (1 << bpi) - 1
                per = 1 << wb
                gg = ((px >> 8) & 0xFF).reshape(h, packed_w)
                idx = np.empty((h, packed_w * per), np.uint32)
                for j in range(per):
                    idx[:, j::per] = (gg >> (j * bpi)) & mask
                idx = idx[:, :tw]
                if idx.size and int(idx.max()) >= len(palette):
                    raise ValueError("palette index out of range")
                px = palette[idx].reshape(-1)
    return px, w


def webp_decode(data: bytes) -> np.ndarray:
    """RIFF/WEBP -> uint8 HxW gray or HxWx3 RGB (alpha dropped, the
    convert('L') ingestion contract). Lossy VP8 quarantines."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    pos = 12
    payload = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8L":
            payload = body
            break
        if tag == b"VP8 ":
            raise ValueError("lossy VP8 WebP unsupported")
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if payload is None:
        raise ValueError("WebP without VP8L chunk")
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    check_pixels(w, h, "WebP")
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    px, cur_w, transforms = _decode_image_stream(br, w, h, True)
    px, _ = _apply_inverse_transforms(px, h, transforms)
    if len(px) != w * h:
        raise ValueError("VP8L pixel count mismatch")
    arr = np.array(px, dtype=np.uint32).reshape(h, w)
    r = ((arr >> 16) & 0xFF).astype(np.uint8)
    g = ((arr >> 8) & 0xFF).astype(np.uint8)
    b = (arr & 0xFF).astype(np.uint8)
    if np.array_equal(r, g) and np.array_equal(g, b):
        return g
    return np.stack([r, g, b], axis=-1)


# -- fixture encoder ----------------------------------------------------------


def _write_prefix_code(bw: _BitWriter, spec) -> _PrefixCode:
    """spec: ('simple', [sym]) / ('simple', [s0, s1]) / ('normal',
    lengths). Returns the code for subsequent symbol emission."""
    kind, arg = spec
    if kind == "simple":
        bw.write(1, 1)
        bw.write(len(arg) - 1, 1)
        bw.write(1, 1)  # always the 8-bit first-symbol form
        bw.write(arg[0], 8)
        if len(arg) == 2:
            bw.write(arg[1], 8)
        return _PrefixCode.simple(list(arg))
    lengths = list(arg)
    bw.write(0, 1)
    used = sorted(set(lengths))
    # pad the distinct-value set to a power of two with unused length
    # values so the code-length code is complete (no repeat codes used;
    # every symbol's length is emitted literally)
    pad_pool = [v for v in (17, 18, *range(1, 16)) if v not in used]
    while len(used) & (len(used) - 1):
        used.append(pad_pool.pop(0))
    k = max(1, (len(used) - 1).bit_length())
    cl_lengths = [0] * 19
    for v in used:
        cl_lengths[v] = k if len(used) > 1 else 1
    num_codes = max(_ORDER.index(v) for v in used) + 1
    bw.write(max(num_codes, 4) - 4, 4)
    for i in range(max(num_codes, 4)):
        bw.write(cl_lengths[_ORDER[i]], 3)
    bw.write(0, 1)  # no explicit max_symbol
    cl = _PrefixCode(cl_lengths)
    for ln in lengths:
        cl.encode(bw, ln)
    return _PrefixCode(lengths)


def _channel_spec(values, alphabet: int = 256):
    if isinstance(values, np.ndarray):
        distinct = np.unique(values).tolist()
    else:
        distinct = sorted(set(values))
    if len(distinct) <= 2:
        return ("simple", distinct)
    return ("normal", [8] * 256 + [0] * (alphabet - 256))


def _emit_literal_image(bw: _BitWriter, px: list[int]) -> None:
    """Non-level0 entropy image (transform data / palette / meta): no
    transforms, no cache, no meta bit; per-channel literal codes."""
    bw.write(0, 1)  # no color cache
    g = [(p >> 8) & 0xFF for p in px]
    r = [(p >> 16) & 0xFF for p in px]
    b = [p & 0xFF for p in px]
    a = [(p >> 24) & 0xFF for p in px]
    cg = _write_prefix_code(bw, _channel_spec(g, 280))
    cr = _write_prefix_code(bw, _channel_spec(r))
    cb = _write_prefix_code(bw, _channel_spec(b))
    ca = _write_prefix_code(bw, _channel_spec(a))
    _write_prefix_code(bw, ("simple", [0]))  # dist: unused
    for i in range(len(px)):
        cg.encode(bw, g[i])
        cr.encode(bw, r[i])
        cb.encode(bw, b[i])
        ca.encode(bw, a[i])


def webp_encode(
    arr: np.ndarray,
    subtract_green: bool = False,
    predictor: int | None = None,
    predictor_bits: int = 9,
    cross_color: tuple[int, int, int] | None = None,
    palette: bool = False,
    cache_bits: int = 0,
    lz77: bool = False,
    meta: bool = False,
) -> bytes:
    """uint8 HxW gray / HxWx3 RGB -> lossless VP8L WebP. The flags pick
    which decoder paths the stream exercises; combinations follow the
    spec's transform ordering (listed order = encoder application
    order; the decoder inverts in reverse). cache_bits and lz77 are
    mutually exclusive here (one Kraft layout each)."""
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise ValueError("webp_encode expects uint8 HxW or HxWx3")
    if cache_bits and lz77:
        raise ValueError("fixture encoder: cache_bits xor lz77")
    h, w = arr.shape[0], arr.shape[1]
    if not (1 <= w <= 512 and 1 <= h <= 16384):
        raise ValueError("fixture encoder supports width <= 512")
    # round-7: the whole pixel pipeline is vectorized — channels live as
    # int32 (h, w) arrays; every transform below is closed-form over
    # shifted views of the ORIGINAL neighbors (the forward predictor has
    # no sequential dependency, unlike the decoder's inverse), so no
    # per-pixel Python runs. Output is bit-identical to the old loops
    # (pinned by the 828-case reference-hash suite used in this round).
    if arr.ndim == 2:
        R = arr.astype(np.int32)
        G = R.copy()
        B = R.copy()
    else:
        R = arr[..., 0].astype(np.int32)
        G = arr[..., 1].astype(np.int32)
        B = arr[..., 2].astype(np.int32)
    A = np.full((h, w), 255, np.int32)

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    cur_w = w

    def _s8a(v: np.ndarray | int):
        return np.where(v >= 128, v - 256, v)

    # transforms, in stream order == encoder application order
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        R = (R - G) & 0xFF
        B = (B - G) & 0xFF
    if cross_color is not None:
        g2r, g2b, r2b = cross_color
        bw.write(1, 1)
        bw.write(1, 2)
        bits = 9
        bw.write(bits - 2, 3)
        cte = (r2b << 16) | (g2b << 8) | g2r
        _emit_literal_image(
            bw, [cte] * (_subsample(cur_w, bits) * _subsample(h, bits))
        )
        sg = _s8a(G)
        sr = _s8a(R)
        d_g2r, d_g2b, d_r2b = (int(_s8a(v & 0xFF)) for v in (g2r, g2b, r2b))
        new_R = (R - ((d_g2r * sg) >> 5)) & 0xFF
        new_B = (B - ((d_g2b * sg) >> 5) - ((d_r2b * sr) >> 5)) & 0xFF
        R, B = new_R, new_B
    if predictor is not None:
        bw.write(1, 1)
        bw.write(0, 2)
        bits = predictor_bits
        bw.write(bits - 2, 3)
        tiles = _subsample(cur_w, bits) * _subsample(h, bits)
        _emit_literal_image(bw, [(predictor & 0xFF) << 8] * tiles)

        def _neigh(C: np.ndarray):
            l = np.zeros_like(C)
            l[:, 1:] = C[:, :-1]
            t = np.zeros_like(C)
            t[1:, :] = C[:-1, :]
            tl = np.zeros_like(C)
            tl[1:, 1:] = C[:-1, :-1]
            tr = np.zeros_like(C)
            if w > 1:
                tr[1:, :-1] = C[:-1, 1:]
            # TR at the last column wraps to the current row's first
            # pixel (contiguous-buffer rule), same as the decoder
            tr[1:, -1] = C[1:, 0]
            return l, t, tl, tr

        chans = [A, R, G, B]
        neigh = [_neigh(C) for C in chans]
        m = predictor

        def _avg(a, b):
            return (a + b) >> 1

        if m == 0:
            preds = [np.full((h, w), v, np.int32) for v in (255, 0, 0, 0)]
        elif m == 1:
            preds = [n[0] for n in neigh]
        elif m == 2:
            preds = [n[1] for n in neigh]
        elif m == 3:
            preds = [n[3] for n in neigh]
        elif m == 4:
            preds = [n[2] for n in neigh]
        elif m == 5:
            preds = [_avg(_avg(n[0], n[3]), n[1]) for n in neigh]
        elif m == 6:
            preds = [_avg(n[0], n[2]) for n in neigh]
        elif m == 7:
            preds = [_avg(n[0], n[1]) for n in neigh]
        elif m == 8:
            preds = [_avg(n[2], n[1]) for n in neigh]
        elif m == 9:
            preds = [_avg(n[1], n[3]) for n in neigh]
        elif m == 10:
            preds = [_avg(_avg(n[0], n[2]), _avg(n[1], n[3])) for n in neigh]
        elif m == 11:
            d = np.zeros((h, w), np.int32)
            for l, t, tl, _tr in neigh:
                d += np.abs(l - tl) - np.abs(t - tl)
            preds = [np.where(d <= 0, n[1], n[0]) for n in neigh]
        elif m == 12:
            preds = [
                np.clip(n[0] + n[1] - n[2], 0, 255) for n in neigh
            ]
        elif m == 13:
            preds = []
            for l, t, tl, _tr in neigh:
                ave = _avg(l, t)
                diff = ave - tl
                half = np.where(diff >= 0, diff >> 1, -((-diff) >> 1))
                preds.append(np.clip(ave + half, 0, 255))
        else:
            raise ValueError(f"bad predictor mode {m}")
        # boundary rows/cols override the mode (spec): (0,0) -> opaque
        # black, row 0 -> left, column 0 -> top
        for C, P, n in zip(chans, preds, neigh):
            if w > 1:
                P[0, 1:] = n[0][0, 1:]
            if h > 1:
                P[1:, 0] = n[1][1:, 0]
        preds[0][0, 0] = 255
        preds[1][0, 0] = preds[2][0, 0] = preds[3][0, 0] = 0
        A, R, G, B = [(C - P) & 0xFF for C, P in zip(chans, preds)]

    px_arr = (
        (A.astype(np.uint32) << 24)
        | (R.astype(np.uint32) << 16)
        | (G.astype(np.uint32) << 8)
        | B.astype(np.uint32)
    ).reshape(-1)
    px = None  # packed Python list, built only by the scalar paths below
    if palette:
        px = [int(p) for p in px_arr]  # scalar path: packed list
        colors = list(dict.fromkeys(px))  # first-seen order
        if len(colors) > 256:
            raise ValueError("palette mode needs <= 256 distinct colors")
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(len(colors) - 1, 8)
        deltas = []
        prev = 0
        for c in colors:
            deltas.append(
                ((((c >> 24) - (prev >> 24)) & 0xFF) << 24)
                | ((((c >> 16) & 0xFF) - ((prev >> 16) & 0xFF) & 0xFF) << 16)
                | ((((c >> 8) & 0xFF) - ((prev >> 8) & 0xFF) & 0xFF) << 8)
                | (((c & 0xFF) - (prev & 0xFF)) & 0xFF)
            )
            prev = c
        _emit_literal_image(bw, deltas)
        lut = {c: i for i, c in enumerate(colors)}
        idx = [lut[p] for p in px]
        n = len(colors)
        wb = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        if wb == 0:
            px = [i << 8 for i in idx]
        else:
            bpi = 8 >> wb
            packed_w = _subsample(cur_w, wb)
            out = []
            for y in range(h):
                row = idx[y * cur_w : (y + 1) * cur_w]
                for bx in range(packed_w):
                    v = 0
                    for j, ival in enumerate(
                        row[bx << wb : (bx << wb) + (1 << wb)]
                    ):
                        v |= ival << (j * bpi)
                    out.append(v << 8)
            px = out
            cur_w = packed_w
        px_arr = np.array(px, dtype=np.uint32)
    bw.write(0, 1)  # end of transforms

    # color cache
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    # meta prefix codes: a single 512px tile -> one group, index 0
    if meta:
        bw.write(1, 1)
        bw.write(9 - 2, 3)
        _emit_literal_image(
            bw, [0] * (_subsample(cur_w, 9) * _subsample(h, 9))
        )
    else:
        bw.write(0, 1)

    ga = ((px_arr >> 8) & 0xFF).astype(np.int64)
    ra = ((px_arr >> 16) & 0xFF).astype(np.int64)
    ba = (px_arr & 0xFF).astype(np.int64)
    aa = ((px_arr >> 24) & 0xFF).astype(np.int64)
    cache_size = (1 << cache_bits) if cache_bits else 0
    galpha = 280 + cache_size
    if cache_bits:
        glens = [9] * 256 + [0] * 24 + [cache_bits + 1] * cache_size
        gspec = ("normal", glens)
    elif lz77:
        gspec = ("normal", [9] * 256 + [5] * 16 + [0] * 8)
    else:
        gspec = _channel_spec(ga, galpha)
    cg = _write_prefix_code(bw, gspec)
    cr = _write_prefix_code(bw, _channel_spec(ra))
    cb = _write_prefix_code(bw, _channel_spec(ba))
    ca = _write_prefix_code(bw, _channel_spec(aa))
    if lz77:
        cd = _write_prefix_code(bw, ("simple", [0, 1]))  # dist codes 1, 2
    else:
        cd = _write_prefix_code(bw, ("simple", [0]))

    if not lz77 and not cache_bits:
        # pure literal stream: emit every pixel's (G, R, B, A) codewords
        # in one vectorized pass. Each code's per-symbol LSB-first writer
        # pattern/length comes from wpat(); fields concatenate LSB-first
        # exactly as four sequential encode() calls would.
        vals = np.zeros(len(px_arr), np.int64)
        widths = np.zeros(len(px_arr), np.int64)
        for code, chan, alpha in (
            (cg, ga, galpha),
            (cr, ra, 256),
            (cb, ba, 256),
            (ca, aa, 256),
        ):
            pat = np.zeros(alpha, np.int64)
            ln = np.zeros(alpha, np.int64)
            for s in code.codes:
                rev, l = code.wpat(s)
                pat[s] = rev
                ln[s] = l
            vals |= pat[chan] << widths
            widths = widths + ln[chan]
        total = int(widths.sum())
        bits_out = np.zeros(total, np.uint8)
        starts = np.cumsum(widths) - widths
        for k in range(int(widths.max()) if len(widths) else 0):
            sel = widths > k
            bits_out[starts[sel] + k] = (vals[sel] >> k) & 1
        bw.write_bit_array(bits_out)
        payload = b"\x2f" + bw.bytes()
        return _riff_wrap(payload)

    px = [int(p) for p in px_arr] if px is None else px
    g = ga.tolist()
    r = ra.tolist()
    b = ba.tolist()
    a = aa.tolist()
    cache = [0] * cache_size if cache_bits else None
    i = 0
    n = len(px)
    while i < n:
        if lz77 and i > 0:
            run = 0
            while i + run < n and px[i + run] == px[i - 1] and run < 256:
                run += 1
            row_run = 0
            if i >= cur_w:
                while (
                    i + row_run < n
                    and px[i + row_run] == px[i + row_run - cur_w]
                    and row_run < 256
                ):
                    row_run += 1
            use_above = row_run > run
            length = max(run, row_run)
            if length >= 3:
                sym, extra, ebits = _prefix_value_encode(length)
                cg.encode(bw, 256 + sym)
                bw.write(extra, ebits)
                # dist symbol 0 -> code 1 = (0,1) row above;
                # dist symbol 1 -> code 2 = (1,0) left pixel
                cd.encode(bw, 0 if use_above else 1)
                i += length
                continue
        p = px[i]
        if cache is not None:
            ci = _cache_index(p, cache_bits)
            if cache[ci] == p and i > 0:
                cg.encode(bw, 280 + ci)
                i += 1
                continue
            cache[ci] = p
        cg.encode(bw, g[i])
        cr.encode(bw, r[i])
        cb.encode(bw, b[i])
        ca.encode(bw, a[i])
        i += 1

    payload = b"\x2f" + bw.bytes()
    return _riff_wrap(payload)


def _riff_wrap(vp8l_payload: bytes, extended: bool = False) -> bytes:
    chunks = b""
    if extended:  # VP8X header chunk (decoders must skip to VP8L)
        vp8x = struct.pack("<BBBBBB", 0, 0, 0, 0, 0, 0) + b"\x00\x00\x00\x00"
        chunks += b"VP8X" + struct.pack("<I", 10) + vp8x[:10]
    chunks += b"VP8L" + struct.pack("<I", len(vp8l_payload)) + vp8l_payload
    if len(vp8l_payload) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def webp_wrap_vp8x(data: bytes) -> bytes:
    """Re-wrap a plain WebP as a VP8X-extended container (fixture)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    pos = data.index(b"VP8L", 12)
    (size,) = struct.unpack_from("<I", data, pos + 4)
    return _riff_wrap(data[pos + 8 : pos + 8 + size], extended=True)
