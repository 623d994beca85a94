"""B4 pad-to-max-in-batch: the training collate step as a distributed
operator (reference src/utils/dataloader.py:53-66 collate: batch
members are right-padded to the batch max before stacking).

The inference path pads to a fixed 64x256 canvas (P4), so B4 was
previously covered only by pad-cell ACCOUNTING (queries.q_batch_slices).
This operator produces the actual padded tensors:

  1. deterministic batch composition — rows are ranked by the keyed
     shuffle hash (operators/reshuffle.shuffle_key), so batch membership
     is identical on any cluster size / partition layout (the reference
     uses a DataLoader whose order is process-local);
  2. the rank->batch grouping is an id-only window + groupBy: PNG
     payloads join back AFTER ranking (the concat_aug lesson — payloads
     never ride a global sort);
  3. each batch is padded to ITS OWN max width (right-pad 0, the
     training collate), stacked, and emitted as shape + content digest
     (the tensor itself is transient executor memory in a real trainer,
     so the engine's verifiable artifact is the digest).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .arrow_batch import rows_batch
from .reshuffle import shuffle_key

BATCH_DDL = (
    "batch_id int, n int, height int, max_width int, pad_cells bigint, "
    "tensor_md5 string"
)


def pad_stack_batches(media: DataFrame, batch_size: int = 32,
                      seed: int = 42) -> DataFrame:
    """media(media_ref, png) -> one row per batch:
    (batch_id, n, height, max_width, pad_cells, tensor_md5).

    tensor_md5 digests the stacked (n, H, max_w) uint8 tensor in
    member order, so two runs (or two cluster layouts) producing the
    same digest proves bit-identical collate output."""
    w = Window.orderBy(shuffle_key("media_ref", seed), "media_ref")
    ranked = media.select("media_ref").select(
        "media_ref",
        ((F.row_number().over(w) - 1) / batch_size).cast("int").alias("batch_id"),
        F.row_number().over(w).alias("_rank"),
    )
    withpng = ranked.join(media.select("media_ref", "png"), "media_ref")
    schema = to_arrow_schema(StructType.fromDDL(BATCH_DDL))

    def collate(group: pa.Table) -> pa.Table:
        from ..functions.imaging import decode_image

        grp = group.sort_by("_rank")
        imgs = [decode_image(p) for p in grp.column("png").to_pylist()]
        h = max(im.shape[0] for im in imgs)
        max_w = max(im.shape[1] for im in imgs)
        stacked = np.zeros((len(imgs), h, max_w), dtype=np.uint8)
        pad_cells = 0
        for i, im in enumerate(imgs):
            stacked[i, : im.shape[0], : im.shape[1]] = im
            pad_cells += h * max_w - im.shape[0] * im.shape[1]
        row = {
            "batch_id": grp.column("batch_id").to_pylist()[0],
            "n": len(imgs),
            "height": h,
            "max_width": max_w,
            "pad_cells": pad_cells,
            "tensor_md5": hashlib.md5(stacked.tobytes()).hexdigest(),
        }
        return pa.Table.from_batches([rows_batch([row], schema)])

    # applyInArrow, NOT mapInArrow: a group must reach its collate whole
    # (Arrow chunking inside mapInArrow could split a batch); the groupBy
    # is the one shuffle, keyed on batch_id, so each task collates
    # complete batches
    return withpng.groupBy("batch_id").applyInArrow(collate, BATCH_DDL)
