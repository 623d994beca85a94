"""The benchmark workloads: one timed iteration each, plus its check.

A workload is built from its input dir and oracle answers; per Spark
session `setup()` broadcasts what the program needs and warms the Python
workers. `iteration()` is the timed unit; `check()` compares its output
with the oracle outside the timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import inputs
from session import CORES, RUN_DIR

TABLES = os.path.join(RUN_DIR, "tables")
WARM_PAYLOADS = 64


class Extract:
    """extract_media: one `run_extract` call per iteration into a fresh
    table (extract, parquet append, commit, lineage). After one warm-up
    iteration the timed ones still sped up by 10-25% each on a 4-core VM,
    so it warms up twice."""

    cores = CORES
    warm_iters = 2

    def __init__(self, name: str, input_dir: str, meta: dict, golden_dir: str):
        self.name = name
        self.docs_path = os.path.join(input_dir, "documents")
        self.media_path = os.path.join(input_dir, "media")
        self.docs = meta["docs"]
        self.golden = inputs.load_golden(golden_dir)
        self.root = os.path.join(TABLES, name)

    def setup(self, spark) -> None:
        """Broadcast the weights; one OCR task per core starts and hydrates
        every Python worker."""
        from vietnamese_ocr_spark.plans.extract import broadcast_weights, recognize_media_df

        self.bc = broadcast_weights(spark)
        media = spark.read.parquet(self.media_path).select("media_ref", "png", "size_b")
        recognize_media_df(media.limit(WARM_PAYLOADS), self.bc).write.format("noop").mode(
            "overwrite").save()

    def iteration(self, spark) -> None:
        from vietnamese_ocr_spark.plans.extract import run_extract

        shutil.rmtree(self.root, ignore_errors=True)  # only left by a failed iteration
        run_extract(spark, self.docs_path, self.media_path, self.root, weights_bc=self.bc)

    def check(self) -> bool:
        ok = inputs.spans_match(inputs.snapshot_spans(self.root), self.golden)
        shutil.rmtree(self.root)
        return ok


class Curate:
    """curate_queries: the curation queries in fixed order, each forced by
    collecting its (small) result, which the check compares with the
    query's DuckDB answer. It leaves one core free: its JVM-side stages
    and the feeder threads of its mapInPandas stages oversubscribe
    local[4] on a 4-core VM (median wall 9.6 s there against 7.9 s at
    local[3]). Its first iteration runs about twice as long as the later
    ones; after that one warm-up the fastest timed iteration is steady."""

    cores = max(1, CORES - 1)
    warm_iters = 1

    def __init__(self, name: str, input_dir: str, meta: dict, golden_dir: str):
        self.name, self.input_dir = name, input_dir
        self.docs = meta["docs"]
        with open(os.path.join(golden_dir, "answers.json")) as f:
            self.answers = json.load(f)
        self.results: dict = {}
        self.query_walls: dict[str, list[float]] = {q: [] for q in inputs.CURATE_QUERIES}

    def setup(self, spark) -> None:
        """Two cheap queries, one with a Python UDF, warm the session and
        the Python workers."""
        import __spark_entry__ as entry

        self.queries = entry.queries()
        for q in ("quality_score", "dedup_simhash"):
            self.queries[q](spark, self.input_dir).collect()

    def iteration(self, spark) -> None:
        for q in inputs.CURATE_QUERIES:
            t0 = time.perf_counter()
            df = self.queries[q](spark, self.input_dir)
            self.results[q] = (df.columns, df.collect())
            self.query_walls[q].append(time.perf_counter() - t0)

    def check(self) -> bool:
        return all(
            sorted(cols) == sorted(self.answers[q]["cols"])
            and inputs.canonical_rows([tuple(r) for r in rows], cols) == self.answers[q]["rows"]
            for q, (cols, rows) in self.results.items()
        )


WORKLOADS = {
    "extract_media": Extract,
    "curate_queries": Curate,
}
