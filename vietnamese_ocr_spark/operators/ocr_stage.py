"""The single vectorized OCR stage: mapInArrow over Arrow record batches.

This is the engine's only Python-side operator on the media path. Each Arrow
batch (<= spark.sql.execution.arrow.maxRecordsPerBatch rows of image bytes)
is streamed through model/pipeline.py: payloads are decoded and preprocessed
with NumPy one at a time, and their line canvases are stacked (legal because
P4 canonicalizes every image to 64x256, src/utils/transform.py:46-53) and
pushed through the shared Recognizer in sub-batches of 32 (the reference's
inference batch size, src/utils/inference.py:44) as soon as 32 have built
up. So the worker holds one sub-batch of canvases, not a whole Arrow
batch's. Never per-row Python at the Spark level.

The stage takes and yields pyarrow RecordBatches and assembles its output
from NumPy buffers (operators/arrow_batch.py), so nothing the worker imports
for it loads pandas (~40 MB of resident code per Python worker; see
config.py).

Weights travel as ONE broadcast of the .npz bytes and are hydrated into a
module-level singleton on first use per Python worker — the Spark analog of
the reference loading its checkpoint once per process
(src/utils/inference.py:20-28; SURVEY.md §4 X8). The singleton is keyed on
the broadcast's variant tag and a digest of its bytes, so a reused worker
that meets other weights re-hydrates instead of serving the old ones.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..model.pipeline import recognize_png_batch
from ..model.recognizer import Recognizer, weights_from_bytes
from .arrow_batch import arrow_column, string_column

OCR_OUTPUT_SCHEMA = (
    "media_ref string, rec_text string, conf_hist array<bigint>, "
    "n_tokens bigint, decode_ok boolean, part_id int"
)
# OCR_OUTPUT_SCHEMA as the Arrow schema Spark expects back from the stage
_ARROW_SCHEMA = pa.schema([
    ("media_ref", pa.string()),
    ("rec_text", pa.string()),
    ("conf_hist", pa.list_(pa.field("element", pa.int64()))),
    ("n_tokens", pa.int64()),
    ("decode_ok", pa.bool_()),
    ("part_id", pa.int32()),
])

_RECOGNIZER: Recognizer | None = None
_RECOGNIZER_KEY: tuple[str, str] | None = None  # _weights_key of _RECOGNIZER


def _weights_key(blob: bytes) -> tuple[str, str]:
    """(variant tag, digest of the .npz bytes) of one weights broadcast."""
    with np.load(io.BytesIO(blob)) as z:
        variant = str(z["variant"]) if "variant" in z.files else ""
    return variant, hashlib.blake2b(blob, digest_size=16).hexdigest()


def _hydrate(weights_bc) -> Recognizer:
    """This worker's Recognizer for the weights that rode `weights_bc`;
    a cached one built from other weights is replaced, never kept too."""
    global _RECOGNIZER, _RECOGNIZER_KEY
    blob = weights_bc.value
    key = _weights_key(blob)
    if _RECOGNIZER is None or _RECOGNIZER_KEY != key:
        _RECOGNIZER = Recognizer(weights_from_bytes(blob))
        _RECOGNIZER_KEY = key
    return _RECOGNIZER


def _ocr_batch(batch: pa.RecordBatch, rec: Recognizer, part_id: int) -> pa.RecordBatch:
    """One input batch (media_ref, png, ...) -> its OCR_OUTPUT_SCHEMA batch;
    media_ref passes through as the input's own column."""
    texts, hist, ok = recognize_png_batch(batch.column("png").to_pylist(), rec)
    n, width = hist.shape
    hist_offsets = np.arange(0, n * width + 1, width, dtype=np.int32)
    conf_hist = pa.Array.from_buffers(
        _ARROW_SCHEMA.field("conf_hist").type, n, [None, pa.py_buffer(hist_offsets)],
        children=[arrow_column(hist.reshape(-1))],
    )
    decode_ok = pa.Array.from_buffers(
        pa.bool_(), n, [None, pa.py_buffer(np.packbits(ok, bitorder="little"))]
    )
    return pa.RecordBatch.from_arrays(
        [batch.column("media_ref"), string_column(texts), conf_hist,
         arrow_column(hist.sum(axis=1)), decode_ok, arrow_column(np.full(n, part_id, np.int32))],
        schema=_ARROW_SCHEMA,
    )


def make_ocr_stage(weights_bc):
    """Returns the mapInArrow function closure over the weights broadcast.

    A pandas frame fed to it (a pandas-UDF caller) is converted to a
    RecordBatch on the way in and its output back to pandas on the way out;
    only such callers pay for, and load, pandas."""

    def ocr_stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rec = _hydrate(weights_bc)
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        for batch in batches:
            if len(batch) == 0:
                continue
            if isinstance(batch, pa.RecordBatch):
                yield _ocr_batch(batch, rec, part_id)
            else:
                frame = pa.RecordBatch.from_pandas(batch, preserve_index=False)
                yield _ocr_batch(frame, rec, part_id).to_pandas()

    return ocr_stage


def salted_repartition(df: DataFrame, n_partitions: int) -> DataFrame:
    """Skew-defeating repartition before the OCR stage (north_rule; X-skew):
    a hash on media_ref, so whale docs' payloads scatter across partitions
    instead of landing together in scan order. AQE's skew handling only
    rebalances join shuffles, never a UDF stage's input.

    The name predates the hash key; the benchmark imports it by this name."""
    return df.repartition(n_partitions, "media_ref")
