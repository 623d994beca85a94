"""Corrupt-payload quarantine: one bad byte must never kill the job."""

from __future__ import annotations

import numpy as np

from vietnamese_ocr_spark.functions.imaging import png_encode
from vietnamese_ocr_spark.model.glyphs import build_atlas, render_line
from vietnamese_ocr_spark.model.pipeline import recognize_png_batch
from vietnamese_ocr_spark.model.recognizer import Recognizer, build_weights
from vietnamese_ocr_spark.model.vocab import Vocabulary
from vietnamese_ocr_spark.plans.extract import broadcast_weights, recognize_media_df


def _payloads():
    v = Vocabulary()
    atlas = build_atlas(v)
    good = png_encode(render_line("xin", 64, atlas))
    truncated = good[: len(good) // 2]
    garbage = b"\x00\x01not-a-png"
    return good, truncated, garbage


def test_shared_pipeline_quarantines_corrupt_payloads():
    good, truncated, garbage = _payloads()
    rec = Recognizer(build_weights())
    texts, hist, ok = recognize_png_batch([good, garbage, good, truncated], rec)
    assert ok == [True, False, True, False]
    assert texts[0] == "xin" and texts[2] == "xin"
    assert texts[1] == "" and texts[3] == ""
    assert hist[1].sum() == 0 and hist[3].sum() == 0


def test_spark_stage_survives_and_counts_failures(spark):
    good, truncated, garbage = _payloads()
    rows = [
        ("m-0", bytearray(good), len(good)),
        ("m-1", bytearray(garbage), len(garbage)),
        ("m-2", bytearray(truncated), len(truncated)),
        ("m-3", bytearray(good), len(good)),
    ]
    media = spark.createDataFrame(rows, "media_ref string, png binary, size_b long")
    out = recognize_media_df(media, broadcast_weights(spark)).collect()
    by_ref = {r["media_ref"]: r for r in out}
    assert len(by_ref) == 4  # no rows lost, no job failure
    assert by_ref["m-0"]["rec_text"] == "xin" and by_ref["m-0"]["decode_ok"]
    assert not by_ref["m-1"]["decode_ok"] and by_ref["m-1"]["rec_text"] == ""
    assert not by_ref["m-2"]["decode_ok"]
    failures = sum(0 if r["decode_ok"] else 1 for r in out)
    assert failures == 2


def test_lineage_records_decode_failures(spark):
    from vietnamese_ocr_spark.plans.extract import lineage_df

    good, _, garbage = _payloads()
    media = spark.createDataFrame(
        [("m-0", bytearray(good), len(good)), ("m-1", bytearray(garbage), 10)],
        "media_ref string, png binary, size_b long",
    )
    rec = recognize_media_df(media, broadcast_weights(spark))
    lin = lineage_df(rec, "run", 1)
    total_failures = sum(r["decode_failures"] for r in lin.collect())
    assert total_failures == 1

    # every lineage column equals a plain-Python fold of rec per part_id
    want: dict[int, list] = {}
    for r in rec.collect():
        acc = want.setdefault(r["part_id"], [0, 0, 0, [0] * len(r["conf_hist"])])
        acc[0] += 1
        acc[1] += r["n_tokens"]
        acc[2] += 0 if r["decode_ok"] else 1
        acc[3] = [a + b for a, b in zip(acc[3], r["conf_hist"])]
    assert sorted(tuple(r) for r in lin.collect()) == sorted(
        (p, n, tok, fail, hist, "run", 1)
        for p, (n, tok, fail, hist) in want.items()
    )
    assert lin.schema.simpleString() == (
        "struct<part_id:int,media_count:bigint,token_count:bigint,"
        "decode_failures:bigint,conf_histogram:array<bigint>,"
        "run_id:string,snapshot_id:int>"
    )
