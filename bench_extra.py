"""Round-7 optimization harness (bench.py is frozen for measurement).

Subcommands:
  python bench_extra.py time <query> [query ...]   -- isolated min-of-N walls
  python bench_extra.py explain <query> [...]      -- dump .explain("formatted")
  python bench_extra.py all                        -- time every HEADLINE query

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 -- the driver's
measurement scale), SPARK_GRAFT_CPUS (default 32), VOS_BENCH_N (attempts,
default 3), VOS_PLAN_TAG (explain output suffix, default "before").

Methodology matches bench.py: noop sink forces full compute of every
column; caches cleared between attempts; jobs labelled for the UI.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402


def _session():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from vietnamese_ocr_spark.config import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._ship_package(spark)
    qs = entrymod.queries()
    from vietnamese_ocr_spark.plans.queries import EXTRA_QUERIES

    qs = {**qs, **EXTRA_QUERIES}
    return spark, qs, sf_dir


def _force(df):
    df.write.mode("overwrite").format("noop").save()


def cmd_time(names: list[str]) -> int:
    spark, qs, sf_dir = _session()
    n = int(os.environ.get("VOS_BENCH_N", "3"))
    from vietnamese_ocr_spark.caching import release_persisted

    # warm JVM + python workers once (uncounted), same as bench.py
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    out = {}
    for name in names:
        walls = []
        for i in range(n):
            release_persisted()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} attempt {i}")
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            walls.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(walls), "walls": walls}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": {k: v["min"] for k, v in out.items()}}))
    spark.stop()
    return 0


def cmd_explain(names: list[str]) -> int:
    spark, qs, sf_dir = _session()
    tag = os.environ.get("VOS_PLAN_TAG", "before")
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = f"plans/r07/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()
    return 0


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "all"
    args = sys.argv[2:]
    if cmd == "time":
        sys.exit(cmd_time(args))
    if cmd == "explain":
        sys.exit(cmd_explain(args))
    if cmd == "all":
        sys.exit(cmd_time(HEADLINE))
    print(f"unknown subcommand {cmd}", file=sys.stderr)
    sys.exit(2)
