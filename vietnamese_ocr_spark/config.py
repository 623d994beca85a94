"""SparkSession factory with scale-oriented defaults.

Local defaults are tuned for the sandbox (local[32], 128 GiB); on a real
cluster the same knobs are what you'd set per-job via spark-submit. AQE is
on so skewed shuffles re-plan at runtime; Arrow batches are capped to
amortize the JVM<->Python boundary (see ARROW_MAX_RECORDS).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 1024 rows per Arrow batch amortize JVM<->Python serialization turns
# (measured ~15% faster than 256 on the map-only OCR stage; reference batch
# sizes are 32-200, src/utils/inference.py:44, trainer.py:177). The batch
# size no longer sets the worker's working set: model/pipeline.py streams
# payloads and holds at most 32 decoded 64x256 canvases (16 KiB each).
# Measured on the extract_media benchmark (local[4], 4-core VM): peak RSS
# per Python worker ~99 MB, most of it imported code (424 modules); it was
# ~108 MB while every JPEG Huffman table a worker met stayed cached as
# 65536 separate ints (~2.5 MB a table), ~147 MB while the stage was
# a pandas UDF and its workers imported pandas (761 modules), ~163 MB when
# every canvas of a batch was also held until recognition. The
# Python-level allocations of one 1024-payload batch peak at ~2.5 MiB,
# more when it carries a large multi-line image, whose decoded frame
# dominates. The curation stages (dedup signatures, the LM bigram pass)
# run through mapInArrow too: on the curate_queries benchmark (local[3]) a
# worker peaks at ~114 MB, ~140 MB while they were pandas UDFs. Every
# other batch Python stage is mapInArrow (or applyInArrow) as well; only
# the two streaming dedup stages still run pandas UDFs.
ARROW_MAX_RECORDS = 1024


_BLAS_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


def pin_blas_single_threaded() -> None:
    """One BLAS thread per task. Spark already runs one task per core, so
    per-worker BLAS pools multiply into cores^2 threads and destroy scaling
    (measured: local[32] *slower* than local[8] on the OCR stage without
    this). Must run before numpy is imported in the worker; local-mode
    Python workers inherit the driver env, cluster mode gets executorEnv."""
    for var in _BLAS_ENV:
        os.environ.setdefault(var, "1")


def get_spark(
    app_name: str = "vietnamese-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    pin_blas_single_threaded()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N]: shuffle partitions ~ cores; a 1000-executor cluster would
    # instead size this to ~2-3x total cores (or leave AQE coalescing on).
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for var in _BLAS_ENV:  # cluster-mode equivalent of the env pin above
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    return builder.getOrCreate()
