"""Distributed training-augmentation stage: the P6 suite
(functions/augment.py) over a media table as one Arrow-batched
mapInArrow pass.

Scale shape mirrors the OCR stage (operators/ocr_stage.py): payloads
cross the wire once into the Arrow batches, every image's augmentation
is keyed on (seed, media_ref) so output is identical across cluster
sizes, retries, and partition layouts — a training corpus you can
regenerate bit-for-bit. No per-row UDF: the decode/augment/encode
loop runs over each Arrow batch inside the Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .arrow_batch import map_rows

AUGMENT_DDL = (
    "media_ref string, png binary, width int, height int, ops string"
)


def augment_media(media: DataFrame, seed: int = 42,
                  out_h: int = 64, out_w: int = 256) -> DataFrame:
    """media(media_ref, png) -> (media_ref, png, width, height, ops)
    with the reference's training chain applied deterministically per
    key. `ops` is the comma-joined audit trail of which p=0.5 gates
    fired for that image."""

    def rows(ref, payload):
        from ..functions.augment import augment_train
        from ..functions.imaging import png_decode, png_encode

        out, applied = augment_train(png_decode(payload), key=ref, seed=seed,
                                     out_h=out_h, out_w=out_w)
        return [
            {
                "media_ref": ref,
                "png": png_encode(out),
                "width": out.shape[1],
                "height": out.shape[0],
                "ops": ",".join(applied),
            }
        ]

    return map_rows(media.select("media_ref", "png"), rows, AUGMENT_DDL)
