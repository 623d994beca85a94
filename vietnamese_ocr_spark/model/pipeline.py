"""The shared per-payload recognition pipeline: decode -> detect -> recognize.

ONE implementation consumed by both the single-process oracle and the Spark
mapInArrow stage — span equality between them is checked per doc, so the
pipeline itself must never fork (SURVEY.md §5.1).

Per payload: decode (S3) -> detect line bands (north_star detection analog)
-> per-band preprocess P1..P4 into a 64x256 canvas. Payloads are streamed
one at a time: canvases from consecutive payloads queue up, and every time
MODEL_BATCH of them have built up they are recognized in one vectorized
pass (M11) and dropped, with one final flush for the remainder. A line's
sub-batch therefore depends only on its position in the batch's line
order, never on how lines split across payloads, and at most MODEL_BATCH
canvases are alive at once however large the Arrow batch is. Each
payload's lines are joined with '\\n'.
"""

from __future__ import annotations

import numpy as np

from ..functions.imaging import decode_image, preprocess
from .detector import detect_line_bands, tighten_band
from .recognizer import CONF_BUCKETS, Recognizer

MODEL_BATCH = 32  # reference inference batch, src/utils/inference.py:44


def recognize_png_batch(
    pngs: list[bytes], recognizer: Recognizer
) -> tuple[list[str], np.ndarray, list[bool]]:
    """Returns (text per payload — lines joined with newline, payload x
    CONF_BUCKETS confidence histograms, decode_ok flags). Empty strings
    stay empty ('a' fallback is a pipeline projection,
    src/utils/inference.py:108-110).

    Corrupt payloads are QUARANTINED, not fatal: at 10^12 rows a single
    bad byte must never kill the job (the single-process reference would
    just crash). A failed decode yields text '' with decode_ok=False; the
    lineage table carries the per-partition failure count. Payloads over
    the decode budget (functions/budget.py) fail the same way."""
    ok = [True] * len(pngs)
    lines: list[list[str]] = [[] for _ in pngs]
    hist = np.zeros((len(pngs), CONF_BUCKETS), dtype=np.int64)
    owners: list[int] = []
    canvases: list[np.ndarray] = []

    def flush() -> None:
        texts, h = recognizer.recognize(np.stack(canvases))
        for j, owner in enumerate(owners):
            lines[owner].append(texts[j])
            hist[owner] += h[j]
        owners.clear()
        canvases.clear()

    for i, png in enumerate(pngs):
        try:
            # PNG (gray/RGB/palette/alpha) or baseline JPEG -> BT.601 gray,
            # the reference's Image.open(...).convert('L') ingestion
            # contract (src/utils/inference.py:125)
            gray = decode_image(png)
        except Exception:
            ok[i] = False
            continue
        for y0, y1 in detect_line_bands(gray):
            # tight crop = scale-normalized line (template-exact multi-line
            # recognition); single-line renders have ink in every row, so
            # their band is returned unchanged (bit-identical behavior)
            ty0, ty1 = tighten_band(gray, y0, y1)
            owners.append(i)
            canvases.append(preprocess(gray[ty0:ty1]))
            if len(canvases) == MODEL_BATCH:
                flush()
    if canvases:
        flush()
    return ["\n".join(ls) for ls in lines], hist, ok
