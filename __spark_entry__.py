"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship OCR-extraction pipeline on sf0.001 (interleaved
                    corpus derived in-executors from the documents table).
queries()         — one entry per implemented operator (SURVEY.md §2 +
                    training-data operators); callables take (spark, sf_dir).
oracle_sql()      — DuckDB-runnable ANSI SQL per query; the OCR pipeline
                    entries are non-SQL-expressible (mapInArrow recognition)
                    and are intentionally omitted -> rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vietnamese_ocr_spark.plans.queries import ORACLE_SQL, QUERIES  # noqa: E402

_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable INSIDE executors' Python workers.

    Driver-side sys.path does not propagate to workers; if the driver's
    cwd isn't the repo root, every Python UDF task would die on import.
    Ship the same zip `python -m vietnamese_ocr_spark package` builds,
    once per SparkContext (addPyFile distributes + prepends to worker
    sys.path — the local-mode equivalent of spark-submit --py-files).
    """
    ctx_id = spark.sparkContext.applicationId
    if ctx_id in _SHIPPED:
        return
    import tempfile

    from vietnamese_ocr_spark.packaging import build_pyfiles_zip

    zip_path = os.path.join(tempfile.gettempdir(), f"vos_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        build_pyfiles_zip(zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(ctx_id)


def _ocr_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: derive interleaved docs+media from the sf documents table,
    run the full extraction pipeline (normalize + OCR + stitch)."""
    from vietnamese_ocr_spark.plans.extract import extract_df
    from vietnamese_ocr_spark.sources.sf_adapter import derive_documents, derive_media

    # no caching here: extract_df persists the exploded scalar span
    # projection internally (one documents pass, strings/ints only), and
    # media payloads are consumed exactly once — caching PNG binaries
    # would pin executor memory for nothing at scale
    documents = derive_documents(spark, sf_dir)
    media = derive_media(spark, sf_dir)
    extracted, _ = extract_df(spark, documents, media)
    return extracted


def _ocr_extract_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract projection of the flagship: spans exploded to flat
    scalar rows (doc_id, seq, kind, text, media_ref, offset). The driver's
    canonicalizer can't hash array<struct> columns (the round-1 red rows),
    and the flat shape is value-checkable against the single-process
    golden parquet (vietnamese_ocr_spark/golden.py) row for row."""
    extracted = _ocr_extract(spark, sf_dir)
    return extracted.selectExpr(
        "doc_id", "posexplode_outer(spans) as (seq, span)"
    ).select(
        "doc_id",
        F.col("seq").cast("int").alias("seq"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _ocr_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recognition table only: media_ref -> recognized text + confidence."""
    from vietnamese_ocr_spark.plans.extract import broadcast_weights, recognize_media_df
    from vietnamese_ocr_spark.sources.sf_adapter import derive_media

    media = derive_media(spark, sf_dir)
    return recognize_media_df(media, broadcast_weights(spark)).select(
        "media_ref", "rec_text", "n_tokens"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ship_package(spark)
    return _ocr_extract(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)  # no-op after the first call per context
        # the driver runs all 50 queries in one session: release the
        # previous query's operator-internal caches (shingle sets, band
        # tables) so they never accumulate across the sweep
        from vietnamese_ocr_spark.caching import release_persisted

        release_persisted()
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Flagship FIRST: the driver records correctness rows for the first
    50 entries only, and QUERIES holds exactly 48 — so every entry here
    lands inside the driver's window. The demonstration/alternate-plan
    queries (plans/queries.py:EXTRA_QUERIES) are verified by
    tests/test_oracle.py through the same harness instead."""
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "ocr_extract": _wrap(_ocr_extract_flat),
        "ocr_recognize": _wrap(_ocr_recognize),
    }
    q.update({name: _wrap(fn) for name, fn in QUERIES.items()})
    return q


# the driver runs the correctness comparison at sf0.01 (driver contract)
# the driver's correctness gate runs at sf0.01; the env override lets
# the local harness sweep other SFs with matching goldens (the golden
# oracle must always be generated from the SAME sf_dir the Spark side
# reads, or row counts mismatch by construction)
_CORRECTNESS_SF_DIR = os.environ.get(
    "SPARK_GRAFT_CORRECTNESS_SF_DIR", "/root/testdata/sf0.01"
)

_GOLDEN_COLS = {
    "ocr_recognize": "media_ref, rec_text, n_tokens",
    "ocr_extract": "doc_id, seq, kind, text, media_ref, \"offset\"",
    "multimodal_image_stats": "asset_id, width, height, mean_lum, ink_ratio",
    "multimodal_audio_features": "asset_id, n_samples, features_md5",
    "multimodal_frame_sample": "asset_id, frame_idx, phash",
    "image_decode_stats": (
        "asset_id, fmt, decode_ok, width, height, mean_lum, ink_ratio"
    ),
    "pdf_extract_lines": "asset_id, decode_ok, page, line_no, y, text",
    "pdf_scanned_ocr": "asset_id, page, name, rec_text, n_tokens",
    "bpe_segment": "doc_id, n_tokens, tokens_md5",
}


def oracle_sql() -> dict[str, str]:
    sql = dict(ORACLE_SQL)
    # Non-SQL-expressible queries (recognition, codec stubs) are still
    # deterministic: precompute the answer single-process (the reference's
    # execution model) and let DuckDB read the golden parquet — a full
    # value-hash check of the distributed pipeline against a one-thread
    # rerun of the same shared semantics (vietnamese_ocr_spark/golden.py).
    try:
        from vietnamese_ocr_spark.golden import ensure_sf_golden

        paths = ensure_sf_golden(_CORRECTNESS_SF_DIR)
        for name, cols in _GOLDEN_COLS.items():
            sql[name] = f"SELECT {cols} FROM read_parquet('{paths[name]}')"
    except (FileNotFoundError, OSError) as exc:
        # testdata absent (local dev) -> those queries stay rows-only,
        # but NEVER silently: the downgrade must be visible
        print(
            f"[oracle_sql] golden oracle unavailable ({exc!r}); "
            f"falling back to rows-only for: {', '.join(_GOLDEN_COLS)}",
            file=sys.stderr,
        )
    except Exception:
        # a genuine golden.py bug must not silently weaken the gate:
        # log the full traceback, then degrade those 5 queries to
        # rows-only rather than failing every other query's comparison
        import traceback

        print(
            "[oracle_sql] golden generation FAILED — rows-only fallback "
            f"for: {', '.join(_GOLDEN_COLS)}",
            file=sys.stderr,
        )
        traceback.print_exc()
    # keep the driver contract tight: oracle keys ⊆ queries() keys (the
    # module-level ORACLE_SQL also carries oracles for EXTRA_QUERIES,
    # which the pytest harness compares instead)
    registered = {"ocr_extract", "ocr_recognize", *QUERIES}
    return {k: v for k, v in sql.items() if k in registered}
