"""The OCR stage is a mapInArrow function that never loads pandas.

The stage takes and yields pyarrow RecordBatches and builds its output from
NumPy buffers, so a Python worker that runs it carries no pandas (~40 MB of
resident code). These tests pin that in a fresh interpreter and in a real
Spark worker, pin the rows against the shared recognition pipeline, and pin
the pandas-frame contract that mapInPandas callers of the closure rely on.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa

from vietnamese_ocr_spark.functions.imaging import png_encode
from vietnamese_ocr_spark.model.glyphs import build_atlas, render_line, render_multiline
from vietnamese_ocr_spark.model.pipeline import recognize_png_batch
from vietnamese_ocr_spark.model.recognizer import Recognizer, build_weights, weights_to_bytes
from vietnamese_ocr_spark.model.vocab import Vocabulary
from vietnamese_ocr_spark.operators.ocr_stage import OCR_OUTPUT_SCHEMA, make_ocr_stage

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark's Arrow type for each DDL type OCR_OUTPUT_SCHEMA uses
_DDL_TO_ARROW = {
    "string": pa.string(),
    "bigint": pa.int64(),
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "array<bigint>": pa.list_(pa.field("element", pa.int64())),
}


def _ddl_arrow_schema() -> pa.Schema:
    return pa.schema([
        (name, _DDL_TO_ARROW[ddl])
        for name, ddl in (f.split(" ", 1) for f in OCR_OUTPUT_SCHEMA.split(", "))
    ])


def _payloads() -> dict[str, bytes]:
    atlas = build_atlas(Vocabulary())
    return {
        "m-corrupt": b"\x89PNG\r\n\x1a\n" + b"\x00" * 40,
        "m-blank": png_encode(render_line("", 64, atlas)),
        "m-multi": png_encode(render_multiline(["trich", "xuat", "vanban"], 64, atlas)),
        "m-diacritics": png_encode(render_line("tiếngviệt", 64, atlas)),
    }


class _Broadcast:
    """Stand-in for a Spark broadcast: the stage only reads `.value`."""

    def __init__(self, value: bytes):
        self.value = value


def _input_batch(payloads: dict[str, bytes]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {
            "media_ref": list(payloads),
            "png": list(payloads.values()),
            "size_b": [len(p) for p in payloads.values()],
        },
        schema=pa.schema([("media_ref", pa.string()), ("png", pa.binary()),
                          ("size_b", pa.int64())]),
    )


def _expected_rows(payloads: dict[str, bytes]) -> list[dict]:
    texts, hist, ok = recognize_png_batch(list(payloads.values()), Recognizer(build_weights()))
    return [
        {"media_ref": ref, "rec_text": t, "conf_hist": h.tolist(), "n_tokens": int(h.sum()),
         "decode_ok": o, "part_id": -1}
        for ref, t, h, o in zip(payloads, texts, hist, ok)
    ]


_FRESH_PROBE = r"""
import json, sys
import pyarrow as pa
from vietnamese_ocr_spark.model.recognizer import build_weights, weights_to_bytes
from vietnamese_ocr_spark.operators.ocr_stage import make_ocr_stage

class Broadcast:
    def __init__(self, value):
        self.value = value

with open(sys.argv[1], "rb") as f, pa.ipc.open_stream(f) as reader:
    batch = reader.read_next_batch()
stage = make_ocr_stage(Broadcast(weights_to_bytes(build_weights())))
out = list(stage(iter([batch])))
empty_out = list(stage(iter([batch.slice(0, 0)])))
with open(sys.argv[2], "wb") as f, pa.ipc.new_stream(f, out[0].schema) as writer:
    for b in out:
        writer.write_batch(b)
print(json.dumps({"pandas": "pandas" in sys.modules, "batches": len(out),
                  "empty_batches": len(empty_out)}))
"""


def test_stage_in_fresh_interpreter_is_arrow_only_and_matches_pipeline(tmp_path):
    payloads = _payloads()
    batch = _input_batch(payloads)
    src, dst = tmp_path / "in.arrow", tmp_path / "out.arrow"
    with open(src, "wb") as f, pa.ipc.new_stream(f, batch.schema) as writer:
        writer.write_batch(batch)
    proc = subprocess.run([sys.executable, "-c", _FRESH_PROBE, str(src), str(dst)],
                          capture_output=True, text=True, cwd=REPO, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report == {"pandas": False, "batches": 1, "empty_batches": 0}
    with open(dst, "rb") as f, pa.ipc.open_stream(f) as reader:
        out = reader.read_all()
    assert out.schema.equals(_ddl_arrow_schema())
    expected = _expected_rows(payloads)
    assert out.to_pylist() == expected
    by_ref = {r["media_ref"]: r for r in expected}
    assert not by_ref["m-corrupt"]["decode_ok"]
    assert by_ref["m-blank"]["rec_text"] == "" and by_ref["m-blank"]["decode_ok"]
    assert by_ref["m-multi"]["rec_text"].count("\n") == 2
    assert not by_ref["m-diacritics"]["rec_text"].isascii()  # multi-byte offsets


def test_stage_fed_pandas_frames_returns_pandas_frames():
    """The contract mapInPandas callers of the closure rely on."""
    import pandas as pd

    payloads = _payloads()
    stage = make_ocr_stage(_Broadcast(weights_to_bytes(build_weights())))
    frame = _input_batch(payloads).to_pandas()
    out = list(stage(iter([frame, frame.iloc[:0]])))
    assert len(out) == 1 and isinstance(out[0], pd.DataFrame)
    assert list(out[0].columns) == _ddl_arrow_schema().names
    rows = [
        {**r, "conf_hist": list(r["conf_hist"])}
        for r in out[0].to_dict("records")
    ]
    assert rows == _expected_rows(payloads)


def test_spark_worker_that_ran_the_stage_has_no_pandas(spark):
    """After the real stage runs, a mapInArrow probe in the SAME Python
    worker finds the stage's recognizer hydrated and pandas not loaded.
    A fresh environment entry gives these jobs a worker pool of their own
    (Spark keys pools on the UDF environment); with one partition per job,
    the worker that ran the stage serves the probe."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from vietnamese_ocr_spark.plans.extract import broadcast_weights, recognize_media_df

    spark_schema = spark.createDataFrame([], OCR_OUTPUT_SCHEMA).schema
    assert to_arrow_schema(spark_schema).equals(_ddl_arrow_schema())

    payloads = _payloads()
    media = spark.createDataFrame(
        [(ref, bytearray(p), len(p)) for ref, p in payloads.items()],
        "media_ref string, png binary, size_b long",
    )

    def probe(batches):
        import sys

        import numpy as np
        import pyarrow as pa

        for _ in batches:
            pass
        stage = sys.modules.get("vietnamese_ocr_spark.operators.ocr_stage")
        flags = ["pandas" in sys.modules, stage is not None and stage._RECOGNIZER is not None]
        cols = [
            pa.Array.from_buffers(
                pa.bool_(), 1, [None, pa.py_buffer(np.packbits([f], bitorder="little"))])
            for f in flags
        ]
        yield pa.RecordBatch.from_arrays(cols, names=["pandas_loaded", "stage_ran"])

    env = spark.sparkContext.environment
    env["VIETNAMESE_OCR_TEST_WORKER_POOL"] = "arrow-only-worker"
    try:
        rec = recognize_media_df(media, broadcast_weights(spark), n_partitions=1).collect()
        got = spark.range(1, numPartitions=1).mapInArrow(
            probe, "pandas_loaded boolean, stage_ran boolean").collect()
    finally:
        env.pop("VIETNAMESE_OCR_TEST_WORKER_POOL")
    expected = {r["media_ref"]: r["rec_text"] for r in _expected_rows(payloads)}
    assert {r["media_ref"]: r["rec_text"] for r in rec} == expected
    assert [r.asDict() for r in got] == [{"pandas_loaded": False, "stage_ran": True}]
