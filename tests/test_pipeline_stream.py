"""The OCR pipeline streams payloads through the recognizer
(model/pipeline.py): canvases are recognized and dropped every MODEL_BATCH
lines. Outputs must equal per-payload recognition on either side of every
flush, and one call's working set must not grow with the payload count."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from vietnamese_ocr_spark.functions.imaging import decode_image, png_encode
from vietnamese_ocr_spark.model.detector import detect_line_bands
from vietnamese_ocr_spark.model.glyphs import build_atlas, render_line, render_multiline
from vietnamese_ocr_spark.model.pipeline import MODEL_BATCH, recognize_png_batch
from vietnamese_ocr_spark.model.recognizer import Recognizer, build_weights
from vietnamese_ocr_spark.model.vocab import Vocabulary

_VOCAB = Vocabulary()
_ATLAS = build_atlas(_VOCAB)
_REC = Recognizer(build_weights(_VOCAB))


def _multiline_payloads(total_lines: int, seed: int) -> list[bytes]:
    """Payloads of 1-4 rendered lines each, `total_lines` lines in all,
    with an undecodable payload (no lines, decode_ok=False) mixed in."""
    rng = np.random.default_rng(seed)
    letters = _VOCAB.letters[:32]
    out: list[bytes] = []
    left = total_lines
    while left:
        n = min(left, int(rng.integers(1, 5)))
        words = ["".join(rng.choice(letters, int(rng.integers(2, 9)))) for _ in range(n)]
        out.append(png_encode(render_multiline(words, int(rng.choice([32, 64])), _ATLAS)))
        left -= n
    out.insert(len(out) // 2, b"\x89PNG\r\n\x1a\n truncated")
    return out


@pytest.mark.parametrize("total_lines", [31, 32, 33, 65])
def test_stream_equals_per_payload_recognition(total_lines):
    pngs = _multiline_payloads(total_lines, seed=total_lines)

    def n_lines(png: bytes) -> int:
        try:
            return len(detect_line_bands(decode_image(png)))
        except ValueError:
            return 0

    # the fixture straddles a flush as intended
    assert sum(n_lines(p) for p in pngs) == total_lines

    texts, hist, ok = recognize_png_batch(pngs, _REC)
    alone = [recognize_png_batch([p], _REC) for p in pngs]
    assert texts == [t[0] for t, _h, _ok in alone]
    assert np.array_equal(hist, np.concatenate([h for _t, h, _ok in alone]))
    assert ok == [o[0] for _t, _h, o in alone]
    assert ok.count(False) == 1


def test_working_set_does_not_grow_with_payload_count():
    words = ["".join(w) for w in np.random.default_rng(7).choice(
        _VOCAB.letters[:32], (64, 6))]
    pngs = [png_encode(render_line(w, 32, _ATLAS)) for w in words]
    recognize_png_batch(pngs[:MODEL_BATCH + 1], _REC)  # warm lazy imports

    def peak(n: int) -> int:
        batch = (pngs * (n // len(pngs) + 1))[:n]
        tracemalloc.start()
        try:
            recognize_png_batch(batch, _REC)
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    small, big = peak(256), peak(1024)
    # holding every canvas until the end would add 768 x 16 KiB = 12 MiB;
    # what may grow is the per-payload output (texts, histograms)
    assert big - small < 1 << 20, (small, big)
