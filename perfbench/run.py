"""Benchmark of the extraction engine: two seeded, oracle-checked workloads.

    python3 perfbench/run.py --workload extract_media --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from the seed (and
cached, with their oracle answers, under .perfbench_work/). One run:

  1. builds or loads the inputs and the oracle answers (not timed);
  2. sets the program up once, cold — JVM launch, SparkSession, package
     zip and shipping, weights broadcast, Python-worker warm-up — and
     reports that as setup_s;
  3. runs the workload's untimed warm-up iterations, then timed
     iterations until --seconds have passed (at least MIN_ITERS),
     checking every iteration's output against the oracle outside the
     timed region.

--trace 0 prints the end-to-end metrics; --trace 1 instead reports the
per-layer metrics (see layers.py) from a run with Spark's event log on,
which times a fixed number of iterations rather than --seconds.
The last stdout line is one JSON object: correct, attempted, failed,
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

sys.path.insert(0, inputs.ROOT)
import vietnamese_ocr_spark  # noqa: E402,F401  (fail fast without the package)

import session  # noqa: E402
from session import log, measure, set_up, warm  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def end_to_end(wl, seconds: float) -> tuple[dict, dict]:
    spark, setup = set_up(wl)
    log(f"setup: {setup:.3f}s")
    warm(wl, spark)
    m = measure(wl, spark, seconds)
    spark.stop()
    # the fastest timed iteration: interference from other tenants of the
    # host only ever adds time, and the JIT is still settling
    wall = min(m["walls"])
    metrics = {
        "wall_s": (wall, "s"),
        "docs_per_s": (wl.docs / wall, "docs/s"),
        "setup_s": (setup, "s"),
        "worker_peak_rss_mb": (m["rss"], "MB"),
    }
    return metrics, m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every way out, SIGTERM included, stops what the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    session.adopt_orphans()
    try:
        session.configure_env()
        t0 = time.perf_counter()
        in_dir, meta = inputs.prepare_inputs(args.workload, args.seed)
        t1 = time.perf_counter()
        golden, gmeta = inputs.prepare_golden(args.workload, in_dir, meta)
        log(f"inputs {meta['fingerprint']} ({t1 - t0:.2f}s here, built in {meta['build_s']:.2f}s); "
            f"oracle {time.perf_counter() - t1:.2f}s here, built in {gmeta['build_s']:.2f}s, "
            f"one-thread golden {gmeta['build_1t_s']:.2f}s")
        wl = WORKLOADS[args.workload](args.workload, in_dir, meta, golden)
        if args.trace:
            import layers

            metrics, m = layers.traced_run(wl, args.seed)
        else:
            metrics, m = end_to_end(wl, args.seconds)
    finally:
        try:
            session.shutdown()
        finally:
            session.reap()
            shutil.rmtree(session.RUN_DIR, ignore_errors=True)

    log(f"run took {time.perf_counter() - START:.1f}s")
    failed_share = m["failed"] / m["attempted"]
    print(f"{args.workload}: failed_share={failed_share:.3f} ({m['failed']}/{m['attempted']}) "
        + " ".join(f"{k}={v:.4g}{u}" for k, (v, u) in sorted(metrics.items())))
    print(json.dumps({
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
