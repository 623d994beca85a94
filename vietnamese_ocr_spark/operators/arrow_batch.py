"""Arrow column builders for the mapInArrow stages.

Every Python stage of the engine takes and yields pyarrow RecordBatches, so
its worker never loads pandas (~40 MB of resident code per Python worker;
see config.py). That holds only if the output is built from raw buffers:
pa.array(), pa.scalar() and RecordBatch.from_pydict() go through pyarrow's
pandas shim, which imports pandas (pyarrow 16.1, checked in a fresh
interpreter); Array.from_buffers, Array.take and RecordBatch.from_arrays do
not. A stage assembles its batch with RecordBatch.from_arrays over these
columns, passing an input column through wherever its rows are unchanged.
A stage whose work is one Python call per input row is map_rows over its
row function.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sized
from itertools import chain

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Spark's Arrow type for array<binary>: the item field is named "element"
BINARY_LIST = pa.list_(pa.field("element", pa.binary()))

# NumPy storage of the fixed-width Arrow types the stage DDLs use
# (DataType.to_pandas_dtype() would import pandas)
_NUMPY_DTYPES = {pa.int32(): np.int32, pa.int64(): np.int64,
                 pa.float32(): np.float32, pa.float64(): np.float64}


def _offsets(items: list[Sized]) -> pa.Buffer:
    """int32 offsets of consecutive values, each as long as its item."""
    offsets = np.zeros(len(items) + 1, np.int32)
    np.cumsum(np.fromiter(map(len, items), np.int32, len(items)), out=offsets[1:])
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


def string_column(values: list, arrow_type: pa.DataType = pa.string()) -> pa.Array:
    """A string column, or a binary one over bytes values; None entries
    are NULL."""
    encode = pa.types.is_string(arrow_type)
    if values.count(None):
        bitmap, nulls = _validity([v is not None for v in values])
        encoded = [b"" if v is None else v.encode() if encode else v for v in values]
    else:
        bitmap, nulls = None, 0
        encoded = [v.encode() for v in values] if encode else values
    return pa.Array.from_buffers(
        arrow_type, len(values),
        [bitmap, _offsets(encoded), pa.py_buffer(b"".join(encoded))],
        null_count=nulls,
    )


def column(values: list, arrow_type: pa.DataType) -> pa.Array:
    """A column of `arrow_type` over Python values, None entries NULL: a
    string, binary, boolean, int32/int64 or float32/float64 scalar, a list
    of any of these, or a struct given as a dict per row (keys the struct
    does not name are ignored)."""
    if pa.types.is_string(arrow_type) or pa.types.is_binary(arrow_type):
        return string_column(values, arrow_type)
    bitmap, nulls = _validity([v is not None for v in values])
    if pa.types.is_list(arrow_type):
        lists = [() if v is None else v for v in values]
        child = column(list(chain.from_iterable(lists)), arrow_type.value_type)
        buffers, children = [bitmap, _offsets(lists)], [child]
    elif pa.types.is_struct(arrow_type):
        rows = [{} if v is None else v for v in values]
        buffers = [bitmap]
        children = [column([r.get(f.name) for r in rows], f.type) for f in arrow_type]
    elif pa.types.is_boolean(arrow_type):
        data = np.packbits(np.array([v is not None and bool(v) for v in values], bool),
                           bitorder="little")
        buffers, children = [bitmap, pa.py_buffer(data)], None
    else:
        data = np.array([0 if v is None else v for v in values], _NUMPY_DTYPES[arrow_type])
        buffers, children = [bitmap, pa.py_buffer(data)], None
    return pa.Array.from_buffers(arrow_type, len(values), buffers, null_count=nulls,
                                 children=children)


def rows_batch(rows: list[dict], schema: pa.Schema) -> pa.RecordBatch:
    """A RecordBatch of `schema` over one dict per row; a key a row lacks
    is NULL."""
    return pa.RecordBatch.from_arrays(
        [column([r.get(f.name) for r in rows], f.type) for f in schema], schema=schema
    )


def map_rows(df: DataFrame, row_fn: Callable[..., Iterable[dict]], ddl: str) -> DataFrame:
    """`df` through mapInArrow, one `row_fn(*values)` call per input row
    (values in `df`'s column order); the dicts it returns are the output
    rows, typed by the DDL. The Arrow schema is derived here, on the
    driver, and rides the closure. Each task unpickles its own copy of
    the closure, so state `row_fn` keeps in it (a cache, a model built on
    the first call) lives for one task."""
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = [c.to_pylist() for c in batch.columns]
            yield rows_batch([out for values in zip(*cols) for out in row_fn(*values)], schema)

    return df.mapInArrow(stage, ddl)


def take(column: pa.Array, rows: list[int]) -> pa.Array:
    """`column`'s values at the row indices `rows`, in that order (an index
    may repeat): how a stage that drops or expands rows carries a column
    such as doc_id through."""
    return column.take(arrow_column(np.asarray(rows, np.int64)))
