"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.10); this is the optional
scale path: the SAME extract_df plan runs unchanged inside foreachBatch,
committing extracted spans + lineage per micro-batch — at-least-once
resume on top of the batch pipeline's idempotent anti-join semantics.

Shape: readStream(documents dir) -> foreachBatch(extract + append + commit).
The OCR mapInArrow stage, salting, and stitch are literally the batch
operators — Structured Streaming replays unprocessed files after a crash,
and the committed-doc anti-join inside run dedupes any overlap, giving
effective exactly-once on doc_ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.extract import broadcast_weights, extract_df, lineage_df
from ..sources.tableio import ExtractTable

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
    table = ExtractTable(out_root)
    weights_bc = broadcast_weights(spark)
    media = spark.read.parquet(media_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = table.committed_doc_ids(spark)
        docs = batch_df
        if done is not None:
            docs = docs.join(done, "doc_id", "left_anti")
        extracted, rec = extract_df(spark, docs, media, weights_bc)
        rec = rec.cache()
        try:
            run_id = f"epoch-{epoch_id}"
            new_files = table.append_extracted(extracted)
            committed = table.commit(run_id, {"epoch_id": epoch_id,
                                              "media_recognized": rec.count(),
                                              "data_files": new_files})
            # after the commit, stamped with the id it actually returned
            # (same contract as plans/extract.py: no lineage for
            # snapshots that never committed)
            table.append_lineage(lineage_df(rec, run_id, committed))
        finally:
            rec.unpersist()

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
