"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.10); this is the optional
scale path: each micro-batch runs the batch job, run_extract_frames, inside
foreachBatch — the same resume anti-join, extract, append, optimistic
commit, lineage and cache release as a batch run.

Shape: readStream(documents dir) -> foreachBatch(run_extract_frames).
Structured Streaming replays unprocessed files after a crash, and the
committed-doc anti-join dedupes any overlap, giving effective exactly-once
on doc_ids. A concurrent writer makes the micro-batch's commit raise
ConcurrentCommitError; a restart replays the batch through the anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.extract import broadcast_weights, run_extract_frames

DOCUMENTS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def stream_extract(
    spark: SparkSession,
    documents_dir: str,
    media_path: str,
    out_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """Start a file-stream extraction over an append-only documents dir.

    Returns the StreamingQuery; callers drive it with processAllAvailable()
    (tests) or awaitTermination() (production).
    """
    weights_bc = broadcast_weights(spark)
    media = spark.read.parquet(media_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        run_extract_frames(spark, batch_df, media, out_root, weights_bc=weights_bc)

    stream = (
        spark.readStream.schema(DOCUMENTS_DDL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(documents_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
