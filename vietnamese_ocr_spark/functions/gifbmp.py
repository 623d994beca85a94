"""Pure-stdlib/NumPy BMP and GIF codecs.

Round-5 coverage item: the reference ingests anything PIL opens
(/root/reference/src/utils/inference.py:125,
/root/reference/src/utils/dataloader.py:44) — BMP and GIF are the two
remaining common web formats `decode_image` quarantined. Like the PNG
and JPEG codecs (imaging.py, jpeg.py), these are built from the public
specs (BMP: BITMAPFILEHEADER/BITMAPINFOHEADER; GIF: GIF87a/89a + LZW,
Welch 1984) with fixture encoders so round-trips need no external
library.

  bmp_decode: uncompressed (BI_RGB) 8-bit palettized, 24-bit and 32-bit
      BMPs, bottom-up and top-down row order, 4-byte row padding.
      Returns HxW gray (when the palette is gray) or HxWx3 RGB.
  gif_decode: GIF87a/GIF89a, global and local color tables, full
      variable-width LZW (dictionary growth to 12 bits, CLEAR resets,
      deferred width bump per spec), Adam-style 4-pass interlacing,
      extension blocks skipped. First frame only (PIL's Image.open
      default frame); palette expanded to RGB, or HxW gray when the
      active palette is gray.

Everything else (RLE BMPs, animated-GIF later frames) raises ValueError
-> callers quarantine, same contract as the other codecs.
"""

from __future__ import annotations

import struct

import numpy as np

from .budget import check_pixels

# -- BMP ----------------------------------------------------------------------


def bmp_encode(arr: np.ndarray, top_down: bool = False) -> bytes:
    """Fixture encoder: uint8 HxW gray -> 8-bit palettized BMP;
    HxWx3 RGB -> 24-bit BMP. Bottom-up by default (the common layout),
    `top_down=True` writes a negative-height header (also in the wild)."""
    if arr.dtype != np.uint8:
        raise ValueError("bmp_encode expects uint8")
    h, w = arr.shape[0], arr.shape[1]
    if arr.ndim == 2:
        bpp = 8
        palette = b"".join(bytes([v, v, v, 0]) for v in range(256))
        rows = arr
    elif arr.ndim == 3 and arr.shape[2] == 3:
        bpp = 24
        palette = b""
        rows = arr[:, :, ::-1].reshape(h, w * 3)  # RGB -> BGR
    else:
        raise ValueError("bmp_encode expects HxW or HxWx3")
    stride = (w * (bpp // 8) + 3) // 4 * 4
    body = bytearray()
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        line = rows[y].tobytes()
        body += line + b"\x00" * (stride - len(line))
    data_off = 14 + 40 + len(palette)
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if top_down else h, 1, bpp, 0, len(body), 2835, 2835,
        256 if bpp == 8 else 0, 0,
    )
    head = struct.pack("<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off)
    return head + dib + palette + bytes(body)


def bmp_decode(data: bytes) -> np.ndarray:
    """Decode an uncompressed BMP (see module docstring for coverage)."""
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", data, 10)
    (dib_size,) = struct.unpack_from("<I", data, 14)
    if dib_size < 40:
        raise ValueError(f"unsupported BMP header size {dib_size}")
    w, h_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    (colors_used,) = struct.unpack_from("<I", data, 46)
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    if w <= 0 or h_raw == 0:
        raise ValueError("bad BMP dimensions")
    top_down = h_raw < 0
    h = abs(h_raw)
    check_pixels(w, h, "BMP")
    stride = (w * (bpp // 8) + 3) // 4 * 4
    if data_off + stride * h > len(data):
        raise ValueError("truncated BMP")
    raw = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = raw.reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        n_colors = colors_used or 256
        pal_off = 14 + dib_size
        pal = np.frombuffer(
            data, dtype=np.uint8, count=n_colors * 4, offset=pal_off
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRX -> RGB
        idx = rows[:, :w]
        if np.array_equal(pal[:, 0], pal[:, 1]) and np.array_equal(
            pal[:, 1], pal[:, 2]
        ):
            return pal[idx, 0].copy()  # gray palette -> HxW
        return pal[idx].copy()
    ch = bpp // 8
    px = rows[:, : w * ch].reshape(h, w, ch)
    return px[:, :, 2::-1].copy()  # BGR(A) -> RGB, alpha dropped


# -- GIF ----------------------------------------------------------------------

_MAX_CODE_WIDTH = 12


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable width starting min_code_size+1, CLEAR
    emitted first and on table overflow (4096 entries). The width bump
    runs one define later than the decoder's (the encoder's dictionary
    is one entry ahead) — see gif_decode for the dual rule."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    # Round-7: dictionary keyed by (prefix_code << 8) | next_byte instead
    # of the prefix string (no per-byte bytes concat/hash); LSB-first
    # accumulator drains whole bytes in bulk. Emitted codes identical —
    # the dictionaries are isomorphic, singles implicit as code == byte.
    table: dict[int, int] = {}
    nxt, width = end + 1, min_code_size + 1
    acc |= clear << nbits
    nbits += width
    cur = -1
    for b in indices:
        if cur < 0:
            cur = b
            continue
        code = table.get((cur << 8) | b)
        if code is not None:
            cur = code
            continue
        acc |= cur << nbits
        nbits += width
        if nbits >= 32:
            nb = nbits >> 3
            out += (acc & ((1 << (nb * 8)) - 1)).to_bytes(nb, "little")
            acc >>= nb * 8
            nbits &= 7
        if nxt < (1 << _MAX_CODE_WIDTH):
            table[(cur << 8) | b] = nxt
            nxt += 1
            if nxt == (1 << width) + 1 and width < _MAX_CODE_WIDTH:
                width += 1
        else:  # table full: reset, same as every mainstream encoder
            acc |= clear << nbits
            nbits += width
            table = {}
            nxt, width = end + 1, min_code_size + 1
        cur = b
    if cur >= 0:
        acc |= cur << nbits
        nbits += width
    acc |= end << nbits
    nbits += width
    nb = nbits >> 3
    out += (acc & ((1 << (nb * 8)) - 1)).to_bytes(nb, "little")
    acc >>= nb * 8
    if nbits & 7:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """Inverse of _lzw_encode, per the GIF89a spec appendix: width bumps
    when the next free code reaches 1<<width; code == next-free means
    the prev+prev[0] self-reference case."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first GIF LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("bad GIF LZW code")
        out += entry
        if prev is not None and len(table) < (1 << _MAX_CODE_WIDTH):
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
        prev = entry
    return bytes(out[:n_pixels])


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    return [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]


def gif_encode(
    arr: np.ndarray,
    palette: np.ndarray | None = None,
    interlace: bool = False,
    local_palette: bool = False,
) -> bytes:
    """Fixture encoder: uint8 HxW index/gray array (+ optional (N,3)
    palette; default 256-entry gray ramp) -> single-frame GIF89a.
    `interlace` writes 4-pass row order; `local_palette` stores the
    table on the image descriptor instead of the screen descriptor —
    both real-world layouts the decoder must handle."""
    if arr.dtype != np.uint8 or arr.ndim != 2:
        raise ValueError("gif_encode expects uint8 HxW")
    h, w = arr.shape
    if palette is None:
        palette = np.stack([np.arange(256)] * 3, axis=-1).astype(np.uint8)
    n = len(palette)
    size_field = max(1, (int(n) - 1).bit_length()) - 1  # 2^(field+1) entries
    table_n = 1 << (size_field + 1)
    pal = np.zeros((table_n, 3), dtype=np.uint8)
    pal[:n] = palette
    min_code = max(2, size_field + 1)

    out = bytearray(b"GIF89a")
    gct_flag = 0 if local_palette else 1
    out += struct.pack(
        "<HHBBB", w, h, (gct_flag << 7) | (7 << 4) | size_field, 0, 0
    )
    if not local_palette:
        out += pal.tobytes()
    # a no-op comment extension: decoders must skip extension blocks
    out += b"\x21\xfe\x05round" + b"\x00"
    lct_flag = 1 if local_palette else 0
    ilace = 1 if interlace else 0
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, (lct_flag << 7) | (ilace << 6) | size_field
    )
    if local_palette:
        out += pal.tobytes()
    rows = arr[_interlace_order(h)] if interlace else arr
    lzw = _lzw_encode(rows.tobytes(), min_code)
    out.append(min_code)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def gif_decode(data: bytes) -> np.ndarray:
    """Decode the first frame of a GIF (see module docstring)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    check_pixels(sw, sh, "GIF screen")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data, dtype=np.uint8, count=n * 3, offset=pos).reshape(
            n, 3
        )
        pos += n * 3
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block == 0x3B:  # trailer before any image
            raise ValueError("GIF contains no image data")
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        check_pixels(w, h, "GIF frame")
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(
                data, dtype=np.uint8, count=n * 3, offset=pos
            ).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF image without color table")
        min_code = data[pos]
        pos += 1
        chunks = []
        while pos < len(data) and data[pos] != 0:
            ln = data[pos]
            chunks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        idx_bytes = _lzw_decode(b"".join(chunks), min_code, w * h)
        if len(idx_bytes) < w * h:
            raise ValueError("truncated GIF image data")
        idx = np.frombuffer(idx_bytes, dtype=np.uint8).reshape(h, w)
        if ipacked & 0x40:  # interlaced: invert the 4-pass row order
            out = np.empty_like(idx)
            out[_interlace_order(h)] = idx
            idx = out
        if (left, top) != (0, 0) or (w, h) != (sw, sh):
            # Frame smaller than / offset within the logical screen:
            # PIL (the reference ingestion) returns the FULL screen with
            # the frame pasted at (top, left) over the background index.
            if left + w > sw or top + h > sh:
                raise ValueError("GIF frame outside logical screen")
            canvas = np.full(
                (sh, sw), bg if bg < len(pal) else 0, dtype=np.uint8
            )
            canvas[top : top + h, left : left + w] = idx
            idx = canvas
        if int(idx.max()) >= len(pal):
            raise ValueError("GIF index outside color table")
        if np.array_equal(pal[:, 0], pal[:, 1]) and np.array_equal(
            pal[:, 1], pal[:, 2]
        ):
            return pal[idx, 0].copy()  # gray palette -> HxW
        return pal[idx].copy()
    raise ValueError("truncated GIF")
