"""Arrow column builders for the mapInArrow stages.

Every Python stage of the engine takes and yields pyarrow RecordBatches, so
its worker never loads pandas (~40 MB of resident code per Python worker;
see config.py). That holds only if the output is built from raw buffers:
pa.array(), pa.scalar() and RecordBatch.from_pydict() go through pyarrow's
pandas shim, which imports pandas (pyarrow 16.1, checked in a fresh
interpreter); Array.from_buffers, Array.take and RecordBatch.from_arrays do
not. A stage assembles its batch with RecordBatch.from_arrays over these
columns, passing an input column through wherever its rows are unchanged.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# Spark's Arrow type for array<binary>: the item field is named "element"
BINARY_LIST = pa.list_(pa.field("element", pa.binary()))


def _offsets(lengths: list[int]) -> pa.Buffer:
    """int32 offsets of consecutive values with the given lengths."""
    offsets = np.zeros(len(lengths) + 1, np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.py_buffer(offsets)


def _validity(valid) -> tuple[pa.Buffer | None, int]:
    """(validity bitmap, null count); no bitmap when nothing is NULL."""
    valid = np.asarray(valid, bool)
    nulls = len(valid) - int(np.count_nonzero(valid))
    if not nulls:
        return None, 0
    return pa.py_buffer(np.packbits(valid, bitorder="little")), nulls


def arrow_column(values: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """An Arrow array over a 1-D fixed-width numeric NumPy array's buffer;
    rows where `valid` is False are NULL (their values are ignored)."""
    values = np.ascontiguousarray(values)
    bitmap, nulls = _validity(valid) if valid is not None else (None, 0)
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(values.dtype), len(values), [bitmap, pa.py_buffer(values)],
        null_count=nulls,
    )


def string_column(values: list[str | None]) -> pa.Array:
    """A string column; None entries are NULL."""
    if values.count(None):
        bitmap, nulls = _validity([v is not None for v in values])
        encoded = [b"" if v is None else v.encode() for v in values]
    else:
        bitmap, nulls = None, 0
        encoded = [v.encode() for v in values]
    return pa.Array.from_buffers(
        pa.string(), len(values),
        [bitmap, _offsets([len(e) for e in encoded]), pa.py_buffer(b"".join(encoded))],
        null_count=nulls,
    )


def binary_list_column(lists: list[list[bytes]]) -> pa.Array:
    """A null-free array<binary> column (BINARY_LIST), one list per row."""
    flat = [b for items in lists for b in items]
    child = pa.Array.from_buffers(
        pa.binary(), len(flat),
        [None, _offsets([len(b) for b in flat]), pa.py_buffer(b"".join(flat))],
    )
    return pa.Array.from_buffers(
        BINARY_LIST, len(lists), [None, _offsets([len(x) for x in lists])], children=[child]
    )


def take(column: pa.Array, rows: list[int]) -> pa.Array:
    """`column`'s values at the row indices `rows`, in that order (an index
    may repeat): how a stage that drops or expands rows carries a column
    such as doc_id through."""
    return column.take(arrow_column(np.asarray(rows, np.int64)))
