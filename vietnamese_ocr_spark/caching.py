"""Scoped tracking of operator-internal persisted frames.

Operators persist frames that several of their own subtrees consume
(shingle sets, band tables, the exploded span projection). The caller
receives lazy DataFrames, so the operator can never unpersist safely
itself — instead every internal persist registers here and the
session-level consumer (bench loop, curate/extract CLI, test harness)
calls release_persisted() once the action is done. This is the scoped
alternative to blanket spark.catalog.clearCache(): it frees exactly the
frames the engine created and nothing the application cached on
purpose.

Iterative operators (connected components, k-means) truncate their
lineage with localCheckpoint(), which persists the frame's RDD; they
register those checkpoints here too. A released checkpoint cannot be
recomputed, so a frame built on one must not be read after the release.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[Callable[[], object]] = []  # one unpersist call per frame


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    df = df.persist(level)
    _TRACKED.append(df.unpersist)
    return df


def checkpoint_tracked(df: DataFrame) -> DataFrame:
    """df.localCheckpoint(), registered for release_persisted(). The
    checkpoint persists the RDD under the returned frame, which the
    frame's own unpersist() does not reach, so the release unpersists
    that RDD."""
    df = df.localCheckpoint()
    _TRACKED.append(partial(df._jdf.queryExecution().logical().rdd().unpersist, False))
    return df


def release_persisted() -> int:
    """Unpersist every tracked frame created since the last call;
    returns how many were released."""
    n = 0
    for unpersist in _TRACKED:
        try:
            unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED.clear()
    return n
