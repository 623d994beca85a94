"""The end-to-end extraction plan (flagship pipeline).

Logical plan, all declarative so Catalyst prunes/pushes/reorders freely
(SURVEY.md §3 E1 Spark lifecycle):

  documents ──explode_outer(spans)─┬─ text/empty ── normalize (JVM regexp) ─┐
                                   └─ kind='media' ─ distinct media_ref     │
                                          │  ⋈ media (pruned cols)          │
                                          │  repartition(hash media_ref)    │
                                          │  mapInArrow OCR ─── 'a' fallback│
                                          └─ join back to media spans ──────┤
                                                                 unionByName
                                                            groupBy(doc_id)
                                            sort_array(struct(offset,...));
                              NULL-kind markers keep empty docs, no join
  sinks: extracted parquet (append), lineage parquet (append), manifest.

Scale notes (100 TB / 10^12 docs):
  * only (media_ref, png, size_b) columns ever leave the media scan, and
    the distinct-ref projection means each unique payload is OCR'd once no
    matter how many docs reference it;
  * images NEVER enter the stitch groupBy — the shuffle carries only
    strings/ints (SURVEY.md §7 hard-point c);
  * the recognized-text table is tiny relative to media (text <= 32 chars),
    so joining it back to media spans is broadcast-eligible; we leave the
    choice to AQE, which sees real sizes at runtime;
  * resume = anti-join against the committed doc_id column (pruned scan).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked, release_persisted
from ..functions.text import normalize_text, with_empty_fallback
from ..model.recognizer import CONF_BUCKETS, weights_to_bytes
from ..model.registry import DEFAULT_ENCODER, build_weights_variant
from ..operators.ocr_stage import OCR_OUTPUT_SCHEMA, make_ocr_stage, salted_repartition
from ..sources.tableio import ExtractTable


def broadcast_weights(spark: SparkSession, encoder: str = DEFAULT_ENCODER):
    """One driver-side build, one broadcast per app (X8). `encoder`
    selects a registered variant (model/registry.py — the reference's
    get_model(config) string dispatch, src/model/model.py:80-114); the
    OCR stage hydrates whatever variant rode the broadcast."""
    return spark.sparkContext.broadcast(
        weights_to_bytes(build_weights_variant(encoder))
    )


def recognize_media_df(media: DataFrame, weights_bc, n_partitions: int | None = None) -> DataFrame:
    """media(media_ref, png, size_b) -> (media_ref, rec_text, conf_hist,
    n_tokens, part_id); a hash repartition on media_ref feeds the one OCR
    stage."""
    spark = media.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    balanced = salted_repartition(media, n_partitions)
    return balanced.mapInArrow(make_ocr_stage(weights_bc), schema=OCR_OUTPUT_SCHEMA)


def stitch(spans: DataFrame) -> DataFrame:
    """spans(doc_id, kind, text, media_ref, offset) -> (doc_id, spans[])
    ordered by offset — the O2 replacement for the reference's unstable
    os.listdir output order (src/utils/inference.py:105-111).

    Rows with NULL kind are empty-doc markers: collect_list skips the
    NULL-ified struct, so the doc survives with spans=[] without any
    post-hoc outer join (a SortMergeJoin dragging full span payloads
    through a sort — measured slower than the whole OCR stage)."""
    return (
        spans.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("kind").isNotNull(),
                        F.struct("offset", "kind", "text", "media_ref"),
                    )
                )
            ).alias("_sorted")
        )
        .select(
            "doc_id",
            F.transform(
                "_sorted",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def extract_df(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    weights_bc=None,
    n_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Pure-DataFrame pipeline: returns (extracted, ocr_rec).

    `extracted` has the input_hint shape (doc_id, spans) with media spans
    carrying recognized text; `ocr_rec` is the per-media recognition table
    (kept separate so callers can derive lineage without recomputing).
    """
    weights_bc = weights_bc or broadcast_weights(spark)

    # Spark does not share scans across diverging subtrees, and nested-
    # schema pruning does not fire through explode() in Spark 4.1 (verified
    # via explain: ReadSchema keeps the full spans struct) — so without
    # intervention the three consumers below (text branch, media branch,
    # distinct-ref projection) would each rescan `documents` in full: three
    # passes over the fattest table at 10^12 rows. Persisting the exploded
    # scalar projection (strings + ints only, never payloads) materializes
    # the scan ONCE; MEMORY_AND_DISK spills cleanly when the exploded spans
    # exceed executor memory, which is still one write + three local reads
    # instead of three remote full-table scans.
    exploded = documents.select("doc_id", F.explode_outer("spans").alias("span"))
    span_cols = exploded.select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    span_cols = persist_tracked(span_cols, StorageLevel.MEMORY_AND_DISK)
    # one branch for text spans AND marker rows: NULL kind (empty doc) and
    # unknown kinds both become NULL-kind markers that ride the union into
    # stitch — the doc survives with its known spans (or []) and no outer
    # join is needed; `when` without `otherwise` NULLs non-text kinds
    text_spans = span_cols.filter(
        (F.col("kind") != "media") | F.col("kind").isNull()
    ).select(
        "doc_id",
        F.when(F.col("kind") == "text", F.lit("text")).alias("kind"),
        F.when(F.col("kind") == "text", normalize_text(F.col("text"))).alias("text"),
        "media_ref",
        "offset",
    )

    media_spans = span_cols.filter(F.col("kind") == "media").drop("text")
    needed = media_spans.select("media_ref").distinct()
    payloads = media.select("media_ref", "png", "size_b").join(needed, "media_ref")
    rec = recognize_media_df(payloads, weights_bc, n_partitions)
    media_texts = rec.select(
        "media_ref", with_empty_fallback(F.col("rec_text")).alias("text")
    )
    media_out = media_spans.join(media_texts, "media_ref").select(
        "doc_id", "kind", "text", "media_ref", "offset"
    )

    unioned = text_spans.select(
        "doc_id", "kind", "text", "media_ref", "offset"
    ).unionByName(media_out)
    return stitch(unioned), rec


def lineage_df(rec: DataFrame, run_id: str, snapshot_id: int) -> DataFrame:
    """Per-partition commit metrics (north_rule: row counts + confidence
    histograms + lineage ids). One aggregation keyed on part_id: the
    histogram is an element-wise sum, one partial sum per bucket on the
    map side, never touching payloads."""
    return (
        rec.groupBy("part_id")
        .agg(
            F.count("*").alias("media_count"),
            F.sum("n_tokens").alias("token_count"),
            F.sum(F.when(~F.col("decode_ok"), 1).otherwise(0))
            .cast("long")
            .alias("decode_failures"),
            F.array(
                *[F.sum(F.col("conf_hist")[i]) for i in range(CONF_BUCKETS)]
            ).alias("conf_histogram"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("snapshot_id", F.lit(snapshot_id))
    )


def run_extract(
    spark: SparkSession,
    documents_path: str,
    media_path: str,
    out_root: str,
    resume: bool = True,
    n_partitions: int | None = None,
    weights_bc=None,
    encoder: str = DEFAULT_ENCODER,
) -> dict:
    """Full job from parquet table paths; see :func:`run_extract_frames`."""
    return run_extract_frames(
        spark,
        spark.read.parquet(documents_path),
        spark.read.parquet(media_path),
        out_root,
        resume=resume,
        n_partitions=n_partitions,
        weights_bc=weights_bc,
        encoder=encoder,
    )


def run_extract_frames(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    out_root: str,
    resume: bool = True,
    n_partitions: int | None = None,
    weights_bc=None,
    encoder: str = DEFAULT_ENCODER,
) -> dict:
    """Full job: extract -> append extracted+lineage -> commit.

    Takes DataFrames, so any source feeds it: parquet/Iceberg tables, a
    binaryFile image directory (sources/image_folder.py), and each
    micro-batch of streaming/stream_extract.py.
    Resumable: a re-run after a partial failure anti-joins the already
    committed doc_ids and only processes the remainder; re-running a
    complete output is a no-op commit.
    """
    table = ExtractTable(out_root)
    run_id = table.new_run_id()

    if resume:
        done = table.committed_doc_ids(spark)
        if done is not None:
            documents = documents.join(done, "doc_id", "left_anti")

    weights_bc = weights_bc or broadcast_weights(spark, encoder)
    extracted, rec = extract_df(spark, documents, media, weights_bc, n_partitions)
    rec = rec.cache()  # reused by lineage; avoids re-running OCR
    try:
        base_snapshot = table.current_snapshot()
        new_files = table.append_extracted(extracted)
        media_done = rec.count()
        committed = table.commit(
            run_id,
            {
                "media_recognized_this_run": media_done,
                "data_files": new_files,  # snapshot isolation: only files
                # in the manifest are readable; a crashed run's orphans
                # are invisible and re-done on resume
            },
            # optimistic concurrency: commit only onto the head this run
            # planned against; a concurrent writer raises
            # ConcurrentCommitError, our files stay orphaned-invisible,
            # and a re-run resumes via the committed-doc anti-join
            expect_snapshot=base_snapshot,
        )
        # lineage lands strictly AFTER the data commit, stamped with the
        # snapshot id the commit actually returned: an OCC-losing writer
        # must never leave lineage rows carrying a snapshot_id it didn't
        # commit (the winner would reuse that id, corrupting attribution)
        table.append_lineage(lineage_df(rec, run_id, committed))
        n_docs = table.snapshot_rows(committed)
    finally:
        rec.unpersist()
        # scoped release of the span_cols projection persisted inside
        # extract_df (and anything else engine-internal) — leaves
        # application-level caches alone
        release_persisted()
    return {"run_id": run_id, "snapshot_id": committed, "total_docs": n_docs}
