"""Pure-stdlib/NumPy baseline TIFF codec (TIFF 6.0 spec subset).

Round-5 coverage: with PNG (8/16-bit, Adam7), JPEG (baseline +
progressive), BMP and GIF already real, TIFF is the last common format
the reference's PIL-anything ingestion accepts
(/root/reference/src/utils/inference.py:125) that `decode_image`
quarantined. Built from the public TIFF 6.0 spec:

  decode: both byte orders (II/MM), baseline 8-bit gray (photometric
      0 = WhiteIsZero inverted, 1 = BlackIsZero), RGB, and palette
      images; uncompressed (1), LZW (5, MSB-first variable-width codes
      with the spec's EARLY width change — one code sooner than GIF's
      deferred rule — and ClearCode resets), horizontal-differencing
      predictor (2); multi-strip layouts; chunky planar config only.
  encode: fixture writer (gray/RGB, none|lzw, optional predictor,
      either byte order, configurable rows-per-strip) so round-trips
      need no external library.

Everything else (tiles, 16-bit samples, PackBits/JPEG-in-TIFF, planar
config 2, multi-IFD subfiles beyond the first) raises ValueError ->
callers quarantine; same contract as the other codecs.
"""

from __future__ import annotations

import struct

import numpy as np

from .budget import check_pixels

_MAX_W = 12  # LZW code width cap
_CLEAR, _EOI = 256, 257


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW: MSB-first packing, early width change (bump when
    the next free code reaches 1<<width), ClearCode at 4094 entries.

    Round-7: the dictionary is keyed by (prefix_code << 8) | next_byte
    instead of the prefix STRING — no per-byte bytes concat/hash — and
    the bit accumulator drains whole bytes in bulk. Codes emitted are
    identical (the dictionaries are isomorphic; singles are implicit as
    code == byte)."""
    out = bytearray()
    acc = 0
    nbits = 0
    table: dict[int, int] = {}
    nxt, width = 258, 9
    acc = (acc << width) | _CLEAR
    nbits += width
    cur = -1
    for b in data:
        if cur < 0:
            cur = b
            continue
        code = table.get((cur << 8) | b)
        if code is not None:
            cur = code
            continue
        acc = (acc << width) | cur
        nbits += width
        if nbits >= 32:
            keep = nbits & 7
            out += (acc >> keep).to_bytes((nbits - keep) >> 3, "big")
            acc &= (1 << keep) - 1
            nbits = keep
        table[(cur << 8) | b] = nxt
        nxt += 1
        if nxt == (1 << width) and width < _MAX_W:
            width += 1
        cur = b
        if nxt >= 4094:  # spec: clear before the 12-bit table overflows
            acc = (acc << width) | _CLEAR
            nbits += width
            table = {}
            nxt, width = 258, 9
    if cur >= 0:
        acc = (acc << width) | cur
        nbits += width
    acc = (acc << width) | _EOI
    nbits += width
    keep = nbits & 7
    out += (acc >> keep).to_bytes((nbits - keep) >> 3, "big")
    if keep:
        out.append(((acc & ((1 << keep) - 1)) << (8 - keep)) & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, n_out: int | None = None) -> bytes:
    """MSB-first early-change LZW (TIFF 6.0 §13; the SAME variant PDF's
    /LZWDecode uses with its default EarlyChange=1 — functions/pdf.py
    reuses this). `n_out` bounds the output when the caller knows it
    (TIFF strips); None decodes until EOI (PDF streams)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while n_out is None or len(out) < n_out:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated TIFF LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == _CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == _EOI:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first TIFF LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("bad TIFF LZW code")
        out += entry
        if prev is not None and len(table) < (1 << _MAX_W):
            table.append(prev + entry[:1])
            # EARLY change: bump when the NEXT free code hits 1<<width
            if len(table) == (1 << width) - 1 and width < _MAX_W:
                width += 1
        prev = entry
    return bytes(out[:n_out])




def _packbits_encode(raw: bytes) -> bytes:
    """Apple PackBits (TIFF 6.0 §9, compression 32773): literal runs
    (n-1, bytes) and replicate runs (257-n, byte), n in 2..128."""
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        run = 1
        while i + run < n and run < 128 and raw[i + run] == raw[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(raw[i])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 2 < n and raw[i] == raw[i + 1] == raw[i + 2])
        ):
            i += 1
        out.append(i - lit - 1)
        out += raw[lit:i]
    return bytes(out)


def _packbits_decode(data: bytes, n_out: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < n_out:
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1 bytes
            if i + c + 1 > len(data):
                raise ValueError("truncated PackBits literal")
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:  # replicate next byte 257-c times
            if i >= len(data):
                raise ValueError("truncated PackBits replicate")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # 128 is a no-op per spec
    return bytes(out[:n_out])


def tiff_encode(
    arr: np.ndarray,
    compression: str = "none",
    predictor: bool = False,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """Fixture encoder: uint8 HxW gray or HxWx3 RGB -> baseline TIFF."""
    if arr.dtype != np.uint8:
        raise ValueError("tiff_encode expects uint8")
    if arr.ndim == 2:
        spp, photometric = 1, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        spp, photometric = 3, 2
    else:
        raise ValueError("tiff_encode expects HxW or HxWx3")
    h, w = arr.shape[0], arr.shape[1]
    e = ">" if big_endian else "<"
    rps = rows_per_strip or h
    flat = arr.reshape(h, w * spp)
    if predictor:
        d = flat.reshape(h, w, spp).astype(np.int16)
        d[:, 1:, :] -= d[:, :-1, :].copy()
        flat = (d & 0xFF).astype(np.uint8).reshape(h, w * spp)
    strips = []
    for y0 in range(0, h, rps):
        raw = flat[y0 : y0 + rps].tobytes()
        if compression == "lzw":
            strips.append(_lzw_encode(raw))
        elif compression == "packbits":
            # TIFF 6.0 §9: each row compresses separately — runs must
            # not span row boundaries (round-7 advice fix; strict
            # external decoders reject spanning runs)
            row_bytes = w * spp
            strips.append(
                b"".join(
                    _packbits_encode(raw[r : r + row_bytes])
                    for r in range(0, len(raw), row_bytes)
                )
            )
        else:
            strips.append(raw)

    comp_val = {"lzw": 5, "packbits": 32773}.get(compression, 1)
    # layout: header(8) + strip data + IFD; offsets computed up front
    data_start = 8
    offsets = []
    off = data_start
    for s in strips:
        offsets.append(off)
        off += len(s)
    # out-of-line arrays (strip offsets/counts when >1, bits-per-sample
    # when spp==3) live after the IFD
    tags: list[tuple[int, int, int, list[int]]] = [
        (256, 3, 1, [w]),                       # ImageWidth
        (257, 3, 1, [h]),                       # ImageLength
        (258, 3, spp, [8] * spp),               # BitsPerSample
        (259, 3, 1, [comp_val]),                # Compression
        (262, 3, 1, [photometric]),             # Photometric
        (273, 4, len(strips), offsets),         # StripOffsets
        (277, 3, 1, [spp]),                     # SamplesPerPixel
        (278, 3, 1, [rps]),                     # RowsPerStrip
        (279, 4, len(strips), [len(s) for s in strips]),  # StripByteCounts
    ]
    if predictor:
        tags.append((317, 3, 1, [2]))
    tags.sort()
    ifd_off = off
    type_size = {3: 2, 4: 4}
    extra = bytearray()
    extra_base = ifd_off + 2 + 12 * len(tags) + 4
    entries = b""
    for tag, typ, count, values in tags:
        sz = type_size[typ] * count
        fmt = "H" if typ == 3 else "I"
        packed = struct.pack(f"{e}{count}{fmt}", *values)
        if sz <= 4:
            value_field = packed + b"\x00" * (4 - sz)
        else:
            value_field = struct.pack(f"{e}I", extra_base + len(extra))
            extra += packed
        entries += struct.pack(f"{e}HHI", tag, typ, count) + value_field
    out = bytearray()
    out += (b"MM\x00*" if big_endian else b"II*\x00")
    out += struct.pack(f"{e}I", ifd_off)
    for s in strips:
        out += s
    out += struct.pack(f"{e}H", len(tags)) + entries + struct.pack(f"{e}I", 0)
    out += extra
    return bytes(out)


def _read_values(data: bytes, e: str, typ: int, count: int, field: bytes) -> list[int]:
    size = {1: 1, 3: 2, 4: 4}.get(typ)
    if size is None:
        raise ValueError(f"unsupported TIFF tag type {typ}")
    fmt = {1: "B", 3: "H", 4: "I"}[typ]
    total = size * count
    if total <= 4:
        buf = field[:total]
    else:
        (off,) = struct.unpack(f"{e}I", field)
        buf = data[off : off + total]
        if len(buf) < total:
            raise ValueError("truncated TIFF tag data")
    return list(struct.unpack(f"{e}{count}{fmt}", buf))


def tiff_decode(data: bytes) -> np.ndarray:
    """Decode a baseline TIFF (see module docstring for coverage).
    Returns HxW gray or HxWx3 RGB (palette expanded, WhiteIsZero
    inverted to the usual black-is-zero convention)."""
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack_from(f"{e}I", data, 4)
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF")
    (n_tags,) = struct.unpack_from(f"{e}H", data, ifd_off)
    if ifd_off + 2 + 12 * n_tags > len(data):
        raise ValueError("truncated TIFF IFD")
    tags: dict[int, list[int]] = {}
    for i in range(n_tags):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(f"{e}HHI", data, base)
        if typ in (1, 3, 4):  # silently skip rationals/ascii metadata
            tags[tag] = _read_values(data, e, typ, count, data[base + 8 : base + 12])
    try:
        w = tags[256][0]
        h = tags[257][0]
        strip_offs = tags[273]
        strip_counts = tags[279]
    except KeyError as ex:
        raise ValueError(f"TIFF missing required tag {ex}") from ex
    check_pixels(w, h, "TIFF")
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    comp = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    rps = tags.get(278, [h])[0]
    planar = tags.get(284, [1])[0]
    predictor = tags.get(317, [1])[0]
    if any(b != 8 for b in bits):
        raise ValueError(f"unsupported TIFF bits per sample {bits}")
    if comp not in (1, 5, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if planar != 1:
        raise ValueError("unsupported TIFF planar configuration")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if photometric not in (0, 1, 2, 3):
        raise ValueError(f"unsupported TIFF photometric {photometric}")

    row_bytes = w * spp
    chunks = []
    rows_left = h
    for si, (off, cnt) in enumerate(zip(strip_offs, strip_counts)):
        raw = data[off : off + cnt]
        if len(raw) < cnt:
            raise ValueError("truncated TIFF strip")
        n_rows = min(rps, rows_left)
        rows_left -= n_rows
        want = n_rows * row_bytes
        if comp == 5:
            chunks.append(_lzw_decode(raw, want))
        elif comp == 32773:
            chunks.append(_packbits_decode(raw, want))
        else:
            chunks.append(raw[:want])
        if len(chunks[-1]) < want:
            raise ValueError("short TIFF strip")
    body = b"".join(chunks)
    if len(body) != h * row_bytes:
        raise ValueError("TIFF data length mismatch")
    img = np.frombuffer(body, dtype=np.uint8).reshape(h, w, spp)
    if predictor == 2:  # horizontal differencing: per-row per-channel cumsum
        img = (np.cumsum(img.astype(np.int64), axis=1) & 0xFF).astype(np.uint8)
    if photometric == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * (1 << 8):
            raise ValueError("palette TIFF without a full ColorMap")
        n = len(cmap) // 3
        # ColorMap stores 16-bit values; high byte is the 8-bit palette
        pal = (np.array(cmap, dtype=np.uint16).reshape(3, n).T >> 8).astype(np.uint8)
        return pal[img[:, :, 0]]
    if spp == 1:
        gray = img[:, :, 0]
        return (255 - gray) if photometric == 0 else gray.copy()
    if spp >= 3:
        return img[:, :, :3].copy()  # extra samples (alpha) dropped
    raise ValueError(f"unsupported TIFF sample count {spp}")
