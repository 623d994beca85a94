"""Per-payload decode budgets shared by every codec.

A hostile payload must cost the worker no more memory than an honest
one of the same declared size. So each decoder checks the payload's
declared width x height against one pixel cap before it allocates, and
every zlib inflate is told up front how many bytes it may produce.
Either check raises ValueError, and callers quarantine the payload as
corrupt (decode_ok=False), like any other undecodable one.
"""

from __future__ import annotations

import zlib

# 2**24 pixels (4096 x 4096). An A4 page scanned at 300 dpi is
# 2480 x 3508 = 8.7 Mpx, so real document scans fit with ~2x headroom,
# while a decoded 8-bit RGBA frame stays within 64 MiB. OCR then
# shrinks every line to 64 px high anyway.
MAX_PIXELS = 1 << 24

_INFLATE_STEP = 1 << 20


def check_pixels(width: int, height: int, fmt: str) -> None:
    """Raise before allocating a frame larger than MAX_PIXELS."""
    if width * height > MAX_PIXELS:
        raise ValueError(
            f"{fmt} {width}x{height} exceeds the {MAX_PIXELS}-pixel decode cap"
        )


def inflate(data: bytes, budget: int) -> bytes:
    """zlib-inflate one complete stream of at most `budget` bytes.

    Inflates in 1 MiB steps and stops one step past the budget, so an
    over-budget stream never costs more than budget + 1 MiB, however far
    it would expand. Like zlib.decompress, a stream that ends early
    raises, and bytes after the end of the stream are ignored."""
    d = zlib.decompressobj()
    parts: list[bytes] = []
    size = 0
    while not d.eof and size <= budget:
        part = d.decompress(data, _INFLATE_STEP)
        if not part:
            break
        parts.append(part)
        size += len(part)
        data = d.unconsumed_tail
    if size > budget:
        raise ValueError(f"inflated stream exceeds its {budget}-byte budget")
    if not d.eof:
        raise ValueError("truncated zlib stream")
    return b"".join(parts)
