"""Pure-stdlib/NumPy Netpbm (PBM/PGM/PPM) and Windows ICO codecs.

Round-6 coverage item: the reference ingests anything PIL opens
(/root/reference/src/utils/inference.py:125,
/root/reference/src/utils/dataloader.py:44) — PNM and ICO were listed
as the remaining PIL long-tail in the round-5 verdict. Built from the
public specs (Netpbm format descriptions; ICONDIR/BITMAPINFOHEADER)
with fixture encoders so round-trips need no external library, same
contract as the PNG/JPEG/BMP/GIF/TIFF codecs.

  pnm_decode: P1-P6. ASCII (P1/P2/P3) and binary (P4/P5/P6) variants,
      '#' comments between header tokens, 1- and 2-byte (big-endian)
      samples. Samples scale to 0..255 by round(v * 255 / maxval) —
      exact for maxval 255, the standard Netpbm scaling otherwise.
      PBM 1-bits are black (gray 0), 0-bits white (gray 255).
  ico_decode: ICONDIR type 1; picks the largest (then deepest) entry
      like PIL. Entries are either embedded PNG (routed to png_decode)
      or BI_RGB DIBs at 32/24/8/4/1 bpp with the doubled-height XOR+AND
      layout; the AND mask is alpha, which grayscale ingestion ignores.

Everything else (CUR files, RLE DIBs, maxval 0/overflow) raises
ValueError -> callers quarantine.
"""

from __future__ import annotations

import struct

import numpy as np

from .budget import check_pixels

# -- PNM ----------------------------------------------------------------------


def _pnm_tokens(data: bytes, n: int, pos: int) -> tuple[list[int], int]:
    """Read n whitespace-separated integer tokens from pos, skipping
    '#' comments (valid anywhere whitespace is, per the Netpbm spec)."""
    out: list[int] = []
    i = pos
    ln = len(data)
    while len(out) < n:
        while i < ln and data[i : i + 1].isspace():
            i += 1
        if i < ln and data[i] == 0x23:  # '#' comment to end of line
            while i < ln and data[i] not in (0x0A, 0x0D):
                i += 1
            continue
        j = i
        while j < ln and not data[j : j + 1].isspace() and data[j] != 0x23:
            j += 1
        if j == i:
            raise ValueError("truncated PNM header")
        try:
            out.append(int(data[i:j]))
        except ValueError:
            raise ValueError("bad PNM token") from None
        i = j
    return out, i


def pnm_decode(data: bytes) -> np.ndarray:
    """Decode P1-P6 Netpbm payloads to uint8 HxW gray / HxWx3 RGB."""
    if len(data) < 2 or data[0:1] != b"P" or data[1] not in b"123456":
        raise ValueError("not a PNM")
    kind = data[1] - 0x30
    bitmap = kind in (1, 4)
    channels = 3 if kind in (3, 6) else 1
    (w, h), pos = _pnm_tokens(data, 2, 2)
    if w <= 0 or h <= 0:
        raise ValueError("bad PNM dimensions")
    check_pixels(w, h, "PNM")
    if bitmap:
        maxval = 1
    else:
        (maxval,), pos = _pnm_tokens(data, 1, pos)
        if not 1 <= maxval <= 65535:
            raise ValueError(f"bad PNM maxval {maxval}")
    n = w * h * channels
    if kind in (1, 2, 3):  # ASCII sample data
        vals, _ = _pnm_tokens(data, n, pos)
        arr = np.array(vals, dtype=np.int64)
    else:  # binary: exactly one whitespace byte after the header
        pos += 1
        if bitmap:  # P4: rows packed MSB-first, byte-aligned per row
            stride = (w + 7) // 8
            if pos + stride * h > len(data):
                raise ValueError("truncated PNM data")
            rows = np.frombuffer(
                data, dtype=np.uint8, count=stride * h, offset=pos
            ).reshape(h, stride)
            arr = np.unpackbits(rows, axis=1)[:, :w].astype(np.int64).reshape(-1)
        elif maxval < 256:
            if pos + n > len(data):
                raise ValueError("truncated PNM data")
            arr = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos).astype(
                np.int64
            )
        else:  # 2-byte big-endian samples
            if pos + 2 * n > len(data):
                raise ValueError("truncated PNM data")
            arr = np.frombuffer(data, dtype=">u2", count=n, offset=pos).astype(
                np.int64
            )
    if int(arr.max(initial=0)) > maxval or int(arr.min(initial=0)) < 0:
        raise ValueError("PNM sample exceeds maxval")
    if bitmap:  # 1 = black per PBM spec
        out = np.where(arr == 1, 0, 255).astype(np.uint8)
    else:  # round-half-up scale to 0..255
        out = ((arr * 510 + maxval) // (2 * maxval)).astype(np.uint8)
    if channels == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, 3)


def pnm_encode(
    arr: np.ndarray, ascii_format: bool = False, maxval: int = 255
) -> bytes:
    """Fixture encoder: uint8 HxW gray -> PGM (P2/P5), HxWx3 -> PPM
    (P3/P6). maxval>255 widens to 2-byte big-endian samples (values
    scale up by maxval/255 so a round-trip through pnm_decode is
    exact). Includes a '#' header comment so decoders must skip it."""
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise ValueError("pnm_encode expects uint8 HxW or HxWx3")
    color = arr.ndim == 3
    if color and arr.shape[2] != 3:
        raise ValueError("pnm_encode expects 3 channels")
    kind = (3 if color else 2) if ascii_format else (6 if color else 5)
    h, w = arr.shape[0], arr.shape[1]
    head = b"P%d\n# fixture\n%d %d\n%d\n" % (kind, w, h, maxval)
    vals = arr.astype(np.int64) * maxval // 255
    if ascii_format:
        body = " ".join(str(v) for v in vals.reshape(-1)) + "\n"
        return head + body.encode("ascii")
    if maxval < 256:
        return head + vals.astype(np.uint8).tobytes()
    return head + vals.astype(">u2").tobytes()


def pbm_encode(arr: np.ndarray, ascii_format: bool = False) -> bytes:
    """Fixture encoder: boolean/0-1 HxW (1 = black) -> PBM (P1/P4)."""
    if arr.ndim != 2:
        raise ValueError("pbm_encode expects HxW")
    bits = (arr != 0).astype(np.uint8)
    h, w = bits.shape
    if ascii_format:
        body = "\n".join(
            " ".join(str(int(v)) for v in row) for row in bits
        ).encode("ascii")
        return b"P1\n# fixture\n%d %d\n" % (w, h) + body + b"\n"
    packed = np.packbits(bits, axis=1)
    return b"P4\n# fixture\n%d %d\n" % (w, h) + packed.tobytes()


# -- ICO ----------------------------------------------------------------------


def ico_decode(data: bytes) -> np.ndarray:
    """Decode the best (largest area, then deepest) image of an ICO."""
    if len(data) < 6:
        raise ValueError("truncated ICO")
    reserved, ico_type, count = struct.unpack_from("<HHH", data, 0)
    if reserved != 0 or ico_type != 1 or count == 0:
        raise ValueError("not an ICO")
    if 6 + 16 * count > len(data):
        raise ValueError("truncated ICO directory")
    best = None
    for i in range(count):
        bw, bh, _nc, _rsv, _planes, bpp, size, off = struct.unpack_from(
            "<BBBBHHII", data, 6 + 16 * i
        )
        ew, eh = bw or 256, bh or 256  # 0 means 256 per the format
        key = (ew * eh, bpp)
        if best is None or key > best[0]:
            best = (key, size, off)
    _, size, off = best
    if off + size > len(data) or size < 8:
        raise ValueError("truncated ICO entry")
    blob = data[off : off + size]
    if blob[:8] == b"\x89PNG\r\n\x1a\n":  # PNG-compressed entry (Vista+)
        from .imaging import png_decode

        return png_decode(blob)
    return _dib_decode(blob)


def _dib_decode(blob: bytes) -> np.ndarray:
    """ICO DIB: BITMAPINFOHEADER with DOUBLED height (XOR image + 1-bit
    AND mask). The AND mask is transparency — ignored, as convert('L')
    ignores alpha (reference ingestion contract)."""
    if len(blob) < 40:
        raise ValueError("truncated ICO DIB")
    dib_size, w, h2 = struct.unpack_from("<Iii", blob, 0)
    planes, bpp = struct.unpack_from("<HH", blob, 12)
    (compression,) = struct.unpack_from("<I", blob, 16)
    (colors_used,) = struct.unpack_from("<I", blob, 32)
    if dib_size != 40 or compression != 0:
        raise ValueError("unsupported ICO DIB header/compression")
    if bpp not in (1, 4, 8, 24, 32):
        raise ValueError(f"unsupported ICO bit depth {bpp}")
    if w <= 0 or h2 <= 0 or h2 % 2:
        raise ValueError("bad ICO DIB dimensions")
    h = h2 // 2
    check_pixels(w, h, "ICO")
    pos = 40
    pal = None
    if bpp <= 8:
        n_colors = colors_used or (1 << bpp)
        if pos + 4 * n_colors > len(blob):
            raise ValueError("truncated ICO palette")
        pal = np.frombuffer(
            blob, dtype=np.uint8, count=n_colors * 4, offset=pos
        ).reshape(n_colors, 4)[:, :3][:, ::-1].copy()  # BGRX -> RGB
        pos += 4 * n_colors
    stride = (w * bpp + 31) // 32 * 4
    if pos + stride * h > len(blob):
        raise ValueError("truncated ICO pixel data")
    rows = np.frombuffer(
        blob, dtype=np.uint8, count=stride * h, offset=pos
    ).reshape(h, stride)[::-1]  # bottom-up
    if bpp == 32:
        px = rows[:, : w * 4].reshape(h, w, 4)
        return px[:, :, 2::-1].copy()  # BGRA -> RGB, alpha dropped
    if bpp == 24:
        px = rows[:, : w * 3].reshape(h, w, 3)
        return px[:, :, ::-1].copy()
    if bpp == 8:
        idx = rows[:, :w]
    elif bpp == 4:
        nib = np.repeat(rows, 2, axis=1)
        nib[:, 0::2] >>= 4
        nib[:, 1::2] &= 0x0F
        idx = nib[:, :w]
    else:  # 1 bpp
        idx = np.unpackbits(rows, axis=1)[:, :w]
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("ICO index outside palette")
    if np.array_equal(pal[:, 0], pal[:, 1]) and np.array_equal(
        pal[:, 1], pal[:, 2]
    ):
        return pal[idx, 0].copy()
    return pal[idx].copy()


def ico_encode(
    arr: np.ndarray, bpp: int | None = None, as_png: bool = False
) -> bytes:
    """Fixture encoder: single-entry ICO. uint8 HxW gray -> 8-bpp
    palettized DIB (or PNG entry with as_png); HxWx3 -> 24/32-bpp DIB.
    Max 256x256 per the format."""
    if arr.dtype != np.uint8:
        raise ValueError("ico_encode expects uint8")
    h, w = arr.shape[0], arr.shape[1]
    if not (1 <= w <= 256 and 1 <= h <= 256):
        raise ValueError("ICO dimensions must be 1..256")
    if as_png:
        from .imaging import png_encode

        blob = png_encode(arr)
    else:
        if bpp is None:
            bpp = 8 if arr.ndim == 2 else 24
        if arr.ndim == 2 and bpp == 8:
            pal = b"".join(bytes([v, v, v, 0]) for v in range(256))
            body_rows = arr
        elif arr.ndim == 3 and bpp in (24, 32):
            pal = b""
            if bpp == 24:
                body_rows = arr[:, :, ::-1].reshape(h, w * 3)
            else:
                rgba = np.concatenate(
                    [arr[:, :, ::-1], np.full((h, w, 1), 255, np.uint8)], axis=2
                )
                body_rows = rgba.reshape(h, w * 4)
        else:
            raise ValueError("unsupported ico_encode arr/bpp combination")
        stride = (w * bpp + 31) // 32 * 4
        and_stride = (w + 31) // 32 * 4
        body = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up XOR image
            line = body_rows[y].tobytes()
            body += line + b"\x00" * (stride - len(line))
        body += b"\x00" * (and_stride * h)  # opaque AND mask
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h * 2, 1, bpp, 0, len(body), 0, 0,
            256 if bpp == 8 else 0, 0,
        )
        blob = dib + pal + bytes(body)
    head = struct.pack("<HHH", 0, 1, 1)
    entry = struct.pack(
        "<BBBBHHII",
        w % 256, h % 256, 0, 0, 1,
        (8 if arr.ndim == 2 else 24) if as_png else bpp,
        len(blob), 6 + 16,
    )
    return head + entry + blob
