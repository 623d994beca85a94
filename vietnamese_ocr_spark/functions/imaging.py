"""Pure-NumPy image primitives shared by the oracle and the Spark UDFs.

Replicates the reference preprocessing semantics (SURVEY.md §2.2):

  P1 grayscale        reference: Image.open(..).convert("L")
                      (src/utils/inference.py:125)
  P2 autocontrast     reference: Enhance = random sharpness + autocontrast
                      (src/utils/transform.py:73-89); we keep only the
                      deterministic autocontrast part (documented deviation,
                      SURVEY.md §7 "determinism over fidelity")
  P3 invert+rescale   bitwise_not; resize to height 64, width
                      min(256, round(64/H*W)) aspect-preserving
                      (src/utils/transform.py:61-71)
  P4 center pad       pad to 64x256, constant 0, centered
                      (src/utils/inference.py:36-39)
  P5 normalize        /255 float, channel stack is done by the model
                      (src/utils/transform.py:51-52)

Plus a minimal pure-stdlib PNG codec (8-bit grayscale) so the `media.png`
BinaryType column holds real PNG bytes without cv2/PIL (neither is in the
runtime image).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .budget import check_pixels, inflate

TARGET_H = 64  # config/swin_config.yaml:31 img_size [64, 256]
TARGET_W = 256

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/pixel


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _forward_filter(arr2d: np.ndarray, bpp: int, ftype: int) -> bytes:
    """Apply PNG forward filter `ftype` to every scanline of a (H, W*bpp)
    byte matrix. Forward filters read ORIGINAL neighbor bytes, so all
    five are fully vectorizable (unlike decode, where Sub/Avg/Paeth are
    sequential in x)."""
    cur = arr2d.astype(np.int32)
    left = np.zeros_like(cur)
    left[:, bpp:] = cur[:, :-bpp]
    up = np.zeros_like(cur)
    up[1:] = cur[:-1]
    ul = np.zeros_like(cur)
    ul[1:, bpp:] = cur[:-1, :-bpp]
    if ftype == 0:
        enc = cur
    elif ftype == 1:
        enc = cur - left
    elif ftype == 2:
        enc = cur - up
    elif ftype == 3:
        enc = cur - ((left + up) >> 1)
    elif ftype == 4:
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
        )
        enc = cur - pred
    else:
        raise ValueError(f"bad PNG filter {ftype}")
    enc = (enc & 0xFF).astype(np.uint8)
    tag = bytes([ftype])
    return b"".join(tag + enc[y].tobytes() for y in range(enc.shape[0]))


def png_encode(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode uint8 gray (HxW), RGB (HxWx3) or RGBA (HxWx4) as 8-bit PNG.

    `filter_type` selects the scanline filter (0..4) applied to every
    row — 0 in production (fast path on decode); the others exist so the
    decoder's full filter matrix is testable against our own encoder."""
    if arr.dtype != np.uint8:
        raise ValueError("png_encode expects uint8")
    if arr.ndim == 2:
        ctype, bpp = 0, 1
        flat = arr
    elif arr.ndim == 3 and arr.shape[2] in (3, 4):
        ctype = 2 if arr.shape[2] == 3 else 6
        bpp = arr.shape[2]
        flat = arr.reshape(arr.shape[0], arr.shape[1] * bpp)
    else:
        raise ValueError("png_encode expects HxW, HxWx3 or HxWx4")
    h, w = arr.shape[0], arr.shape[1]
    raw = _forward_filter(flat, bpp, filter_type)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def png_encode_16(arr: np.ndarray) -> bytes:
    """Encode uint16 gray (HxW) or RGB (HxWx3) as 16-bit PNG, filter 0
    (fixture/test builder for the 16-bit decode path)."""
    if arr.dtype != np.uint16:
        raise ValueError("png_encode_16 expects uint16")
    if arr.ndim == 2:
        ctype, channels = 0, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        ctype, channels = 2, 3
    else:
        raise ValueError("png_encode_16 expects HxW or HxWx3")
    h, w = arr.shape[0], arr.shape[1]
    rows = arr.reshape(h, w * channels).astype(">u2")
    raw = b"".join(b"\x00" + rows[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def png_encode_interlaced(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode uint8 gray/RGB/RGBA as an Adam7-interlaced PNG — the other
    legal layout of the wire format (fixture/test builder; production
    encoding stays sequential). Each of the seven passes is an
    independently-filtered sub-image, exactly what png_decode's
    interlaced branch reassembles."""
    if arr.dtype != np.uint8:
        raise ValueError("png_encode_interlaced expects uint8")
    if arr.ndim == 2:
        ctype, bpp = 0, 1
        flat = arr[:, :, None]
    elif arr.ndim == 3 and arr.shape[2] in (3, 4):
        ctype, bpp = (2, 3) if arr.shape[2] == 3 else (6, 4)
        flat = arr
    else:
        raise ValueError("png_encode_interlaced expects HxW, HxWx3 or HxWx4")
    h, w = arr.shape[0], arr.shape[1]
    raw = b""
    for x0, xs, y0, ys in _ADAM7:
        sub = flat[y0::ys, x0::xs]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        raw += _forward_filter(
            sub.reshape(sub.shape[0], sub.shape[1] * bpp), bpp, filter_type
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def png_encode_palette(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Encode a uint8 HxW index array + (N,3) palette as a type-3 PNG
    (fixture/test builder for the palette decode path)."""
    if indices.dtype != np.uint8 or indices.ndim != 2:
        raise ValueError("indices must be uint8 HxW")
    h, w = indices.shape
    raw = _forward_filter(indices, 1, 0)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(flat: np.ndarray, height: int, width_bytes: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filtering: flat is the (height, 1+width_bytes)
    filter-byte + raw-byte matrix of one (sub-)image; bpp is the byte
    distance to the left neighbor (channels x bytes-per-sample)."""
    if not flat[:, 0].any():
        # fast path: every scanline filter 0 (what png_encode writes) —
        # one vectorized reshape instead of a per-row loop
        return flat[:, 1:].copy()
    out = np.empty((height, width_bytes), dtype=np.uint8)
    prev = np.zeros(width_bytes, dtype=np.int32)
    for y in range(height):
        ftype = int(flat[y, 0])
        line = flat[y, 1:].astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub: per-channel prefix sum
            cur = (
                np.cumsum(line.reshape(-1, bpp).astype(np.int64), axis=0)
                & 0xFF
            ).astype(np.int32).reshape(-1)
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average: sequential in x (needs decoded left)
            cur = np.zeros(width_bytes, dtype=np.int32)
            for i in range(width_bytes):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth: sequential in x
            cur = np.zeros(width_bytes, dtype=np.int32)
            for i in range(width_bytes):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


# Adam7: (x_start, x_step, y_start, y_step) per pass
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8- or 16-bit PNG: gray (0), RGB (2), palette (3),
    gray+alpha (4) and RGBA (6) color types, all five scanline filters,
    multiple IDAT chunks, sequential AND Adam7-interlaced layouts.
    Matches what `Image.open(...)` accepts for the common web-PNG shapes
    (reference: src/utils/inference.py:125 opens arbitrary files via
    PIL). Returns HxW for gray, HxWxC otherwise (palette is expanded to
    RGB); 16-bit samples downconvert to their high byte (the standard
    visual 16->8 mapping).
    """
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    width = height = ctype = None
    depth = 8
    interlace = 0
    plte = None
    idat = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
            if depth not in (8, 16) or (depth == 16 and ctype == 3):
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if ctype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {ctype}")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            check_pixels(width, height, "PNG")
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    channels = _PNG_CHANNELS[ctype]
    sample_b = depth // 8
    bpp = channels * sample_b
    if interlace == 0:
        passes = [(width, height)]
    else:
        passes = [
            ((width - x0 + xs - 1) // xs, (height - y0 + ys - 1) // ys)
            for x0, xs, y0, ys in _ADAM7
        ]
    # the exact filtered size IHDR implies: inflate never produces more
    raw = inflate(
        b"".join(idat), sum(ph * (pw * bpp + 1) for pw, ph in passes if pw and ph)
    )
    if interlace == 0:
        stride = width * bpp + 1
        if len(raw) != height * stride:
            raise ValueError("PNG data length mismatch")
        flat = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
        out = _png_unfilter(flat, height, width * bpp, bpp)
    else:  # Adam7: seven independently-filtered sub-images, scattered
        out = np.zeros((height, width * bpp), dtype=np.uint8)
        off = 0
        for (x0, xs, y0, ys), (pw, ph) in zip(_ADAM7, passes):
            if pw == 0 or ph == 0:
                continue
            stride = pw * bpp + 1
            if off + ph * stride > len(raw):
                raise ValueError("PNG data length mismatch")
            flat = np.frombuffer(
                raw[off : off + ph * stride], dtype=np.uint8
            ).reshape(ph, stride)
            off += ph * stride
            sub = _png_unfilter(flat, ph, pw * bpp, bpp).reshape(ph, pw, bpp)
            ys_idx = np.arange(y0, height, ys)
            xs_idx = np.arange(x0, width, xs)
            cols = (xs_idx[:, None] * bpp + np.arange(bpp)).reshape(-1)
            out[np.ix_(ys_idx, cols)] = sub.reshape(ph, pw * bpp)
        if off != len(raw):
            raise ValueError("PNG data length mismatch")
    if depth == 16:
        # Big-endian samples: take the high byte (the standard 16->8
        # mapping, == x*255/65535 rounded down per libpng). DELIBERATE
        # DIVERGENCE from PIL: Pillow opens 16-bit grayscale PNG as mode
        # "I" and convert('L') then CLIPS sample values at 255, turning
        # nearly every real 16-bit image solid white. We keep the
        # high-byte mapping because it preserves image content; only
        # degenerate sub-8-bit-range 16-bit files differ from a PIL
        # pipeline, and those are unreadable under PIL anyway.
        out = out.reshape(height, width * channels, 2)[:, :, 0].copy()
    if ctype == 0:
        return out.reshape(height, width)
    img = out.reshape(height, width, channels)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        return plte[img[:, :, 0]]
    return img


def decode_image(data: bytes) -> np.ndarray:
    """Decode PNG / JPEG (baseline + progressive) / BMP / GIF payload
    bytes to uint8 HxW grayscale (PIL convert('L') semantics: BT.601
    luma, alpha ignored — the reference's ingestion contract,
    src/utils/inference.py:125 and src/utils/dataloader.py:44).

    One documented divergence from PIL: 16-bit PNG samples map to 8-bit
    via the high byte (libpng's scale), NOT PIL's mode-I clip-at-255 —
    see png_decode; the clip destroys content, the high byte keeps it.

    Raises ValueError on unknown formats and on corrupt payloads;
    callers quarantine."""
    if data[:8] == _PNG_SIG:
        arr = png_decode(data)
    elif data[:2] == b"\xff\xd8":
        from .jpeg import jpeg_decode

        arr = jpeg_decode(data)
    elif data[:2] == b"BM":
        from .gifbmp import bmp_decode

        arr = bmp_decode(data)
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        from .gifbmp import gif_decode

        arr = gif_decode(data)
    elif data[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import tiff_decode

        arr = tiff_decode(data)
    elif len(data) >= 2 and data[0:1] == b"P" and data[1] in b"123456":
        from .pnmico import pnm_decode

        arr = pnm_decode(data)
    elif data[:4] == b"\x00\x00\x01\x00":
        from .pnmico import ico_decode

        arr = ico_decode(data)
    elif data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from .webp import webp_decode

        arr = webp_decode(data)
    else:
        raise ValueError(
            "unknown image format (not PNG/JPEG/BMP/GIF/TIFF/PNM/ICO/WebP)"
        )
    if arr.ndim == 3:
        if arr.shape[2] == 2:  # gray+alpha: PIL convert('L') drops alpha
            return arr[:, :, 0].copy()
        return grayscale(arr)
    return arr


def grayscale(arr: np.ndarray) -> np.ndarray:
    """RGB(A) HxWxC -> L via BT.601 (PIL convert('L') semantics); gray passes through."""
    if arr.ndim == 2:
        return arr
    rgb = arr[..., :3].astype(np.float32)
    l = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    return np.clip(l, 0, 255).astype(np.uint8)


def autocontrast(arr: np.ndarray) -> np.ndarray:
    """Deterministic histogram stretch (PIL ImageOps.autocontrast, cutoff=0).

    Computed through a 256-entry LUT: the float math runs once per gray
    VALUE instead of once per pixel (bit-identical to the per-pixel form,
    ~8x less float work on typical strips)."""
    lo = int(arr.min())
    hi = int(arr.max())
    if hi <= lo:
        return arr
    scale = 255.0 / (hi - lo)
    lut = np.clip(
        (np.arange(256, dtype=np.float32) - np.float32(lo)) * np.float32(scale),
        0,
        255,
    ).astype(np.uint8)
    return lut[arr]


def invert(arr: np.ndarray) -> np.ndarray:
    """bitwise_not — dark ink on light paper becomes bright signal on 0.
    (For uint8, ~x == 255 - x; no int32 round-trip.)"""
    return np.invert(arr)


def resize_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resize with half-pixel centers (cv2 INTER_LINEAR convention).

    Pure per-image elementwise float32 math — bit-identical between the
    oracle and any Arrow batch shape (SURVEY.md §7 hard-point b), at half
    the memory traffic of float64 (the OCR stage is bandwidth-bound).
    """
    in_h, in_w = arr.shape
    if (in_h, in_w) == (out_h, out_w):
        return arr.copy()
    src = arr.astype(np.float32)

    def _axis(n_out: int, n_in: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        coords = (np.arange(n_out, dtype=np.float32) + np.float32(0.5)) * np.float32(n_in / n_out) - np.float32(0.5)
        coords = np.clip(coords, np.float32(0.0), np.float32(n_in - 1.0))
        i0 = np.floor(coords).astype(np.int64)
        i1 = np.minimum(i0 + 1, n_in - 1)
        frac = coords - i0
        return i0, i1, frac

    y0, y1, fy = _axis(out_h, in_h)
    x0, x1, fx = _axis(out_w, in_w)
    top = src[y0][:, x0] * (1 - fx) + src[y0][:, x1] * fx
    bot = src[y1][:, x0] * (1 - fx) + src[y1][:, x1] * fx
    out = top * (1 - fy)[:, None] + bot * fy[:, None]
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def invert_rescale(arr: np.ndarray) -> np.ndarray:
    """P3: invert, then resize to height 64, width min(256, round(64/H*W)).

    Width clamp mirrors src/utils/transform.py:68 — long lines get squeezed
    into 256 px, which is why the decode cap at 32 tokens matters.
    """
    inv = invert(arr)
    h, w = inv.shape
    new_w = int(min(TARGET_W, round(TARGET_H / h * w)))
    new_w = max(new_w, 1)
    return resize_bilinear(inv, TARGET_H, new_w)


def center_pad(arr: np.ndarray) -> np.ndarray:
    """P4: constant-0 pad to 64x256, centered (src/utils/inference.py:36-39)."""
    h, w = arr.shape
    if w > TARGET_W or h > TARGET_H:
        raise ValueError(f"image {h}x{w} exceeds canvas {TARGET_H}x{TARGET_W}")
    pad_top = (TARGET_H - h) // 2
    pad_left = (TARGET_W - w) // 2
    out = np.zeros((TARGET_H, TARGET_W), dtype=np.uint8)
    out[pad_top : pad_top + h, pad_left : pad_left + w] = arr
    return out


def preprocess(arr: np.ndarray) -> np.ndarray:
    """Full P1..P4 chain: uint8 gray in -> uint8 64x256 canvas out.

    Stays uint8 end-to-end (4x less DRAM traffic than float32 — the OCR
    stage is bandwidth-bound at high core counts); the P5 /255
    normalization is algebraically folded into the recognizer's cosine
    scoring (cosine is scale-invariant), matching the reference's
    normalize-then-score up to the model's own arithmetic."""
    g = grayscale(arr)
    g = autocontrast(g)
    g = invert_rescale(g)
    return center_pad(g)


def perceptual_hash(gray: np.ndarray) -> str:
    """64-bit DCT perceptual hash (the classic pHash recipe): resize to
    32x32, 2-D DCT-II, keep the 8x8 low-frequency block, threshold each
    coefficient against the median (DC excluded), pack to 16 hex chars.
    Near-duplicate frames differ in a few bits; unrelated frames in ~32.
    Deterministic float64 matrix DCT — no library dependency."""
    small = resize_bilinear(grayscale(gray), 32, 32).astype(np.float64)
    n = 32
    k = np.arange(n, dtype=np.float64)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    coef = c @ small @ c.T
    low = coef[:8, :8].reshape(-1)
    ac = low[1:]
    bits = ac > np.median(ac)
    val = 0
    for b in bits:  # 63 bits + a parity bit keeps it 64 wide
        val = (val << 1) | int(b)
    val = (val << 1) | (int(bits.sum()) & 1)
    return f"{val:016x}"
