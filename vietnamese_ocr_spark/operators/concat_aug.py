"""ConcatAug: synthesize longer training lines by horizontally
concatenating two labeled images (reference src/utils/concat_aug.py:25-43).

Reference semantics per generated sample: pick two images, grayscale,
resize each (aspect-preserving) to the smaller height, hconcat, invert,
resize to 256x64, pad to the canvas, label = label1 + label2 (no space,
concat_aug.py:42). The reference draws pairs with random.choice and adds a
random SafeRotate (p=0.66) — train-only randomness we replace with a
SEEDED permutation pairing (operators/reshuffle.shuffle_key) and no
rotation, keeping every geometric op deterministic (SURVEY §7
"determinism over fidelity"); engine outputs stay reproducible across
runs and cluster sizes.

Scale shape: pairing is one narrow shuffle (the seeded sort), the image
work is one mapInArrow over Arrow batches — payloads never enter a
groupBy, and each output row is built from exactly two input rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.imaging import invert, png_decode, png_encode, resize_bilinear
from .arrow_batch import map_rows
from .reshuffle import shuffle_key

CONCAT_AUG_DDL = "pair_id string, png binary, label string, width int, height int"
OUT_H, OUT_W = 64, 256  # reference canvas, config/swin_config.yaml:31


def concat_two(img1: np.ndarray, img2: np.ndarray) -> np.ndarray:
    """The deterministic geometry chain (concat_aug.py:31-39): resize both
    to the min height aspect-preserving, hconcat, invert, resize 256x64."""
    h = min(img1.shape[0], img2.shape[0])
    a = resize_bilinear(img1, h, max(1, int(h / img1.shape[0] * img1.shape[1])))
    b = resize_bilinear(img2, h, max(1, int(h / img2.shape[0] * img2.shape[1])))
    joined = np.concatenate((a, b), axis=1)
    return resize_bilinear(invert(joined), OUT_H, OUT_W)


def concat_aug_images(labeled_media: DataFrame, seed: int = 42) -> DataFrame:
    """labeled_media(media_ref, png, text) -> one augmented sample per
    adjacent pair under the seeded permutation (row 2k with row 2k+1).

    PNG payloads never enter the pairing windows: the global permutation
    ranks (shuffle_key, media_ref) ID rows only — a few bytes per row —
    and both partners' payloads are joined back by ref afterwards, each
    crossing the wire exactly once in a hash join. (Round-2 ADVICE: the
    previous lead('png') dragged full payloads through a single-task
    global sort.) The id-only total order is the standard cheap piece;
    at 10^12 rows you'd swap it for a range-partitioned rank over the
    same key with identical output."""
    ids = labeled_media.select("media_ref")
    w = Window.orderBy(shuffle_key("media_ref", seed), "media_ref")
    ordered = ids.select("media_ref", F.row_number().over(w).alias("_pos"))
    id_pairs = ordered.select(
        "media_ref",
        "_pos",
        F.lead("media_ref").over(Window.orderBy("_pos")).alias("ref2"),
    ).filter((F.col("_pos") % 2 == 1) & F.col("ref2").isNotNull())
    left = labeled_media.select("media_ref", "png", "text")
    right = labeled_media.select(
        F.col("media_ref").alias("ref2"),
        F.col("png").alias("png2"),
        F.col("text").alias("text2"),
    )
    paired = id_pairs.join(left, "media_ref").join(right, "ref2")

    def rows(r1, p1, t1, r2, p2, t2):
        img = concat_two(png_decode(p1), png_decode(p2))
        return [{
            "pair_id": f"{r1}+{r2}",
            "png": png_encode(img),
            "label": f"{t1}{t2}",  # no separator, concat_aug.py:42
            "width": img.shape[1],
            "height": img.shape[0],
        }]

    pairs = paired.select("media_ref", "png", "text", "ref2", "png2", "text2")
    return map_rows(pairs, rows, CONCAT_AUG_DDL)
