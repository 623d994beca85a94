"""Spark session lifecycle for the benchmark, and Python-worker memory.

The JVM is launched once per process with the benchmark's fixed
configuration (no console progress bar, scratch dirs inside the work
directory). The first `start()` of a process is the cold set-up that
`setup_s` times: the JVM launch, building and shipping the package zip
(cached per process), the weights broadcast and the Python-worker
warm-up. A later `start()` reuses the JVM and creates a fresh
SparkContext; the traced run uses that to switch Spark's event log on
and off per context.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time
import traceback

from inputs import WORK

PR_SET_CHILD_SUBREAPER = 36
CORES = min(4, os.cpu_count() or 1)
MIN_ITERS = 3
# per-process scratch (tables, Spark dirs, event log): removed at exit, and
# never shared with a concurrent run in the same checkout
RUN_DIR = os.path.join(WORK, "runs", str(os.getpid()))
EVENT_DIR = os.path.join(RUN_DIR, "eventlog")


def configure_env() -> None:
    """Must run before pyspark launches its JVM."""
    tmp = os.path.join(RUN_DIR, "tmp")
    local = os.path.join(RUN_DIR, "spark-local")
    for d in (tmp, local, EVENT_DIR):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(RUN_DIR, 'warehouse')}",
        f"--conf spark.eventLog.dir=file://{EVENT_DIR}",
        "--conf spark.eventLog.compress=false",
        # fixed heap for steadier GC; no hsperfdata files outside the work dir
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def start(cores: int, event_log: bool = False):
    """A SparkSession on local[cores] with the package shipped to workers.
    The event log is a per-context switch, so it needs the JVM launched by
    an earlier (untraced) context."""
    from pyspark import SparkContext

    if event_log and SparkContext._jvm is None:
        raise RuntimeError("the first context of a process runs without the event log")
    if SparkContext._jvm is not None:  # read by each new SparkConf
        SparkContext._jvm.java.lang.System.setProperty(
            "spark.eventLog.enabled", "true" if event_log else "false")
    import __spark_entry__ as entry
    from vietnamese_ocr_spark.config import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    entry._ship_package(spark)
    return spark


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts. The
    JVM's Python daemon and workers outlive a stopped context for a
    moment, and once the JVM exits they are re-parented here instead of
    to init, so `reap()` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def shutdown() -> None:
    """Stop any active context and the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap(grace: float = 30.0) -> None:
    """Wait until every child of this process has ended: the spawn pools'
    resource tracker, and the Python daemon and workers adopted from the
    JVM. Those still running after `grace` seconds are killed."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # no-op unless a pool started it
    deadline, reaped = time.monotonic() + grace, 0
    while _children().get(os.getpid()):
        if time.monotonic() > deadline:
            for pid in _children().get(os.getpid(), []):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            pid = os.waitpid(-1, os.WNOHANG)[0]
        except ChildProcessError:
            break
        reaped += pid != 0
        if pid == 0:
            time.sleep(0.05)
    log(f"waited for {reaped} adopted processes to end")


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among this process's pyspark daemon/worker processes."""
    kids = _children()
    stack, peak = list(kids.get(os.getpid(), [])), 0.0
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return peak


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def measure(wl, spark, seconds: float, max_iters: int | None = None) -> dict:
    """Timed iterations for `seconds` (at least MIN_ITERS, at most
    max_iters), each checked afterwards. `walls` holds the walls of the
    iterations that passed their check (all walls if none did);
    `rdds_left` the persisted RDDs that `release_persisted()` leaves
    after each iteration."""
    from vietnamese_ocr_spark.caching import release_persisted

    walls, ok_walls, rdds_left, rss = [], [], [], 0.0
    deadline = time.perf_counter() + seconds
    while len(walls) < (max_iters or sys.maxsize) and (
            len(walls) < MIN_ITERS or time.perf_counter() < deadline):
        t0 = time.perf_counter()
        try:
            wl.iteration(spark)
            wall = time.perf_counter() - t0
            ok = wl.check()
        except Exception:
            traceback.print_exc()
            wall, ok = time.perf_counter() - t0, False
        walls.append(wall)
        if ok:
            ok_walls.append(wall)
        release_persisted()
        rdds_left.append(persistent_rdds(spark))
        rss = max(rss, worker_peak_rss_mb())
        log(f"{wl.name} iteration {len(walls)}: {wall:.3f}s {'ok' if ok else 'FAILED'} "
            f"(persistent RDDs left {rdds_left[-1]})")
    return {"walls": ok_walls or walls, "attempted": len(walls),
            "failed": len(walls) - len(ok_walls), "rss": rss, "rdds_left": rdds_left}


def set_up(wl, event_log: bool = False, spark=None):
    """One setup: (re)start the session, broadcast, warm the workers."""
    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = start(wl.cores, event_log)
    wl.setup(spark)
    return spark, time.perf_counter() - t0


def warm(wl, spark) -> None:
    """The workload's untimed warm-up iterations, each checked."""
    for i in range(wl.warm_iters):
        t0 = time.perf_counter()
        wl.iteration(spark)
        log(f"{wl.name} warm-up {i + 1}: {time.perf_counter() - t0:.3f}s")
        if not wl.check():
            raise RuntimeError(f"{wl.name}: warm-up iteration failed its check")
