"""The traced run: per-layer metrics for one workload.

Spans are taken from the benchmark's own files, around calls into each
layer's public functions; engine-boundary numbers come from Spark's own
event log, which only this run switches on. The run:

  1. times TRACED_ITERS untraced iterations (event log off) on a warm
     session;
  2. restarts the context with the event log on and times the same
     number of traced iterations (phase "iter");
  3. re-runs an extract step by step, timing each layer call on
     materialized inputs (phase "layers"), and times each curation query:
     curate_queries inside its untraced iterations, extract_media in a
     warm pass over the curation tables;
  4. folds the event log, and times model.pipeline single-process on a
     seeded sample of the extract corpus's payloads. Traced minus
     untraced median wall is the tracing overhead.

A layer the traced workload bypasses is measured on the other
workload's inputs (the extract layers on this seed's extract corpus in a
curate_queries run, the curation queries in an extract_media run), so
every per-layer metric is a measurement; the engine-boundary and trace
metrics come from the traced workload's own iterations.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import eventlog
import inputs
import session
from session import log, measure, set_up, warm
from workloads import TABLES, WORKLOADS, Curate

PER_FORMAT = 40
TRACED_ITERS = 2  # per phase (untraced, traced): keeps the run short
FORMATS = ("png", "jpeg", "webp", "gif", "tiff", "bmp", "pnm", "ico")

# the per-layer metric set and units are those BENCHMARK.json declares
with open(os.path.join(inputs.ROOT, "BENCHMARK.json")) as _f:
    PER_LAYER: dict[str, str] = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}

# layer timings whose sum is the attributed part of an extract iteration;
# ocr_stage.wall_s includes the salted repartition and
# tableio.append_lineage_s computes the lineage, so those two parts are
# not counted again
_ATTRIBUTED = ("extract.plan_s", "text.normalize_s", "extract.stitch_s", "ocr_stage.wall_s",
               "tableio.committed_doc_ids_s", "tableio.append_extracted_s",
               "tableio.commit_s", "tableio.append_lineage_s", "tableio.read_snapshot_s")


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _phase(spark, name: str) -> None:
    spark.sparkContext.setLocalProperty(eventlog.PHASE, name)


def _sniff(data: bytes) -> str:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:3] == b"GIF":
        return "gif"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if data[:2] == b"BM":
        return "bmp"
    if data[:1] == b"P":
        return "pnm"
    if data[:4] == b"\x00\x00\x01\x00":
        return "ico"
    return "other"


def pipeline_sample(media_path: str, seed: int) -> dict:
    """model.pipeline stages, single-process, on a seeded payload sample
    (up to PER_FORMAT payloads of each format): decode per format, detect
    per payload, preprocess and recognize per line. The overall decode
    mean weights each format by its share of the workload's payloads."""
    from vietnamese_ocr_spark.functions.imaging import decode_image, preprocess
    from vietnamese_ocr_spark.model.detector import detect_line_bands, tighten_band
    from vietnamese_ocr_spark.model.pipeline import MODEL_BATCH
    from vietnamese_ocr_spark.model.recognizer import Recognizer, build_weights

    pngs = pq.read_table(media_path, columns=["png"])["png"].to_pylist()
    by_fmt: dict[str, list[bytes]] = {}
    for data in pngs:
        by_fmt.setdefault(_sniff(data), []).append(data)
    rng = np.random.default_rng(seed)
    rec = Recognizer(build_weights())
    decode: dict[str, list[float]] = {}
    detect, prep, canvases, n_payloads = [], [], [], 0
    for fmt, group in sorted(by_fmt.items()):
        for i in rng.choice(len(group), min(PER_FORMAT, len(group)), replace=False):
            n_payloads += 1
            t0 = time.perf_counter()
            try:
                gray = decode_image(group[int(i)])
            except Exception:
                continue  # quarantined payload: no decode time to report
            decode.setdefault(fmt, []).append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            bands = [tighten_band(gray, y0, y1) for y0, y1 in detect_line_bands(gray)]
            detect.append(time.perf_counter() - t0)
            for y0, y1 in bands:
                t0 = time.perf_counter()
                canvases.append(preprocess(gray[y0:y1]))
                prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for lo in range(0, len(canvases), MODEL_BATCH):
        rec.recognize(np.stack(canvases[lo:lo + MODEL_BATCH]))
    recog = time.perf_counter() - t0
    mean = {f: statistics.fmean(ts) for f, ts in decode.items()}
    weight = {f: len(by_fmt[f]) for f in mean}
    out = {
        "imaging.decode_us": 1e6 * sum(mean[f] * weight[f] for f in mean) / sum(weight.values())
        if mean else 0.0,
        "detector.detect_us": 1e6 * statistics.fmean(detect) if detect else 0.0,
        "imaging.preprocess_us": 1e6 * statistics.fmean(prep) if prep else 0.0,
        "recognizer.recognize_us_per_line": 1e6 * recog / len(canvases) if canvases else 0.0,
        "pipeline.lines_per_payload": len(canvases) / n_payloads if n_payloads else 0.0,
    }
    for f in FORMATS:
        out[f"imaging.decode_us.{f}"] = 1e6 * mean.get(f, 0.0)
    return out


def _ocr_probe(spark, payloads, weights_bc, n: int) -> dict:
    """The production OCR closure wrapped per task (one summary row each)."""
    import pandas as pd
    from vietnamese_ocr_spark.operators.ocr_stage import make_ocr_stage, salted_repartition

    stage = make_ocr_stage(weights_bc)

    def probe(batches):
        from pyspark import TaskContext

        t0 = time.perf_counter()
        first, rows, ok = None, 0, 0
        for out in stage(batches):
            first = first if first is not None else time.perf_counter() - t0
            rows += len(out)
            ok += int(out["decode_ok"].sum())
        yield pd.DataFrame([{"part": TaskContext.get().partitionId(), "rows": rows, "ok": ok,
                             "busy": time.perf_counter() - t0, "first": first or 0.0}])

    schema = "part int, rows long, ok long, busy double, first double"
    res, wall = _timed(lambda: salted_repartition(payloads, n).mapInPandas(probe, schema).collect())
    busy = sorted(r["busy"] for r in res)
    rows = [r["rows"] for r in res]
    med, mean = statistics.median(busy), statistics.fmean(busy)
    return {
        "ocr_stage.wall_s": wall,
        "ocr_stage.task_busy_s": sum(busy),
        "ocr_stage.task_median_s": med,
        "ocr_stage.task_max_s": busy[-1],
        "ocr_stage.straggler_ratio": busy[-1] / med if med else 0.0,
        "ocr_stage.task_cv": statistics.pstdev(busy) / mean if mean else 0.0,
        "ocr_stage.rows_min": min(rows),
        "ocr_stage.rows_max": max(rows),
        "ocr_stage.first_batch_s": max(r["first"] for r in res),
        "ocr_stage.payloads": sum(rows),
        "ocr_stage.decode_ok_ratio": sum(r["ok"] for r in res) / max(1, sum(rows)),
    }


def extract_layers(wl, spark) -> dict:
    """One extract run decomposed into its layer calls."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from vietnamese_ocr_spark.functions.text import normalize_text
    from vietnamese_ocr_spark.operators.ocr_stage import salted_repartition
    from vietnamese_ocr_spark.plans.extract import extract_df, lineage_df, stitch
    from vietnamese_ocr_spark.sources.tableio import ExtractTable

    n = wl.cores
    docs = spark.read.parquet(wl.docs_path)
    media = spark.read.parquet(wl.media_path)
    spans = docs.select("doc_id", F.explode_outer("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset").persist(StorageLevel.MEMORY_AND_DISK)
    c = spans.agg(
        F.countDistinct("doc_id").alias("docs"),
        F.count("kind").alias("spans"),
        F.sum((F.col("kind") == "text").cast("long")).alias("text"),
        F.sum((F.col("kind") == "media").cast("long")).alias("media"),
        F.countDistinct(F.when(F.col("kind") == "media", F.col("media_ref"))).alias("distinct"),
    ).first()
    out = {"extract.docs_in": c["docs"], "extract.spans": c["spans"],
           "extract.text_spans": c["text"], "extract.media_spans": c["media"],
           "extract.distinct_media_ratio": c["distinct"] / c["media"] if c["media"] else 0.0}
    _, out["text.normalize_s"] = _timed(lambda: _noop(
        spans.filter(F.col("kind") == "text").select(normalize_text(F.col("text")))))
    _, out["extract.stitch_s"] = _timed(lambda: _noop(stitch(spans)))
    needed = spans.filter(F.col("kind") == "media").select("media_ref").distinct()
    payloads = media.select("media_ref", "png", "size_b").join(needed, "media_ref").persist()
    payloads.count()
    _, out["ocr_stage.salted_repartition_s"] = _timed(
        lambda: _noop(salted_repartition(payloads, n)))
    out.update(_ocr_probe(spark, payloads, wl.bc, n))
    payloads.unpersist()
    spans.unpersist()

    root = os.path.join(TABLES, f"{wl.name}-layers")
    shutil.rmtree(root, ignore_errors=True)
    table = ExtractTable(root)
    (extracted, rec), out["extract.plan_s"] = _timed(lambda: extract_df(spark, docs, media, wl.bc))
    rec = rec.cache()
    extracted = extracted.persist()
    _, out["extract.compute_s"] = _timed(extracted.count)
    files, out["tableio.append_extracted_s"] = _timed(lambda: table.append_extracted(extracted))
    out["tableio.files_written"] = len(files)
    out["tableio.bytes_written"] = sum(
        os.path.getsize(os.path.join(table.extracted_dir, f)) for f in files)
    run_id = table.new_run_id()
    snap, out["tableio.commit_s"] = _timed(
        lambda: table.commit(run_id, {"data_files": files}, expect_snapshot=0))
    _, out["extract.lineage_s"] = _timed(lambda: _noop(lineage_df(rec, run_id, snap)))
    _, out["tableio.append_lineage_s"] = _timed(
        lambda: table.append_lineage(lineage_df(rec, run_id, snap)))
    out["extract.docs_out"], out["tableio.read_snapshot_s"] = _timed(
        lambda: table.read_snapshot(spark, snap).select("doc_id").count())
    out["extract.fallback_a"] = rec.filter(F.length("rec_text") == 0).count()
    extracted.unpersist()
    rec.unpersist()
    # resume: the same documents redelivered onto the committed table
    done, out["tableio.committed_doc_ids_s"] = _timed(
        lambda: table.committed_doc_ids(spark).cache())
    left = docs.join(done, "doc_id", "left_anti").count()
    done.unpersist()
    out["extract.resume_skip_ratio"] = 1.0 - left / c["docs"] if c["docs"] else 0.0
    shutil.rmtree(root, ignore_errors=True)
    return out


def _workload(name: str, seed: int):
    """The named workload on this seed's inputs, with its oracle answers."""
    in_dir, meta = inputs.prepare_inputs(name, seed)
    golden, _ = inputs.prepare_golden(name, in_dir, meta)
    return WORKLOADS[name](name, in_dir, meta, golden)


def traced_run(wl, seed: int) -> tuple[dict, dict]:
    """Untraced iterations, the same number traced, then every layer, each
    on the inputs of the workload that loads it: a traced run of either
    workload reports every per-layer metric as measured, none as a
    placeholder."""
    curate = isinstance(wl, Curate)
    spark, _ = set_up(wl)
    warm(wl, spark)
    if curate:
        wl.query_walls = {q: [] for q in wl.query_walls}
    before = measure(wl, spark, 0, max_iters=TRACED_ITERS)
    n = before["attempted"]
    spark, _ = set_up(wl, event_log=True, spark=spark)
    _phase(spark, "iter")
    traced = measure(wl, spark, 0, max_iters=n)
    _phase(spark, "layers")
    ext = _workload("extract_media", seed) if curate else wl
    if curate:
        ext.setup(spark)
        queries = {q: statistics.median(walls[:n]) for q, walls in wl.query_walls.items()}
    else:
        cur = _workload("curate_queries", seed)
        cur.setup(spark)
        for _ in range(2):  # the first pass is the plans' cold run in this JVM
            cur.iteration(spark)
        queries = {q: walls[-1] for q, walls in cur.query_walls.items()}
    out = extract_layers(ext, spark)
    out.update({f"queries.{q}_s": v for q, v in queries.items()})
    spark.stop()
    attributed = sum(queries.values()) if curate else sum(out[k] for k in _ATTRIBUTED)
    folded = eventlog.fold(eventlog.read_events(session.EVENT_DIR))
    log(f"event log phases: {sorted(folded)}")
    out.update(eventlog.spark_metrics(folded.get("iter", {}), n))
    out.update(pipeline_sample(ext.media_path, seed))
    wall = statistics.median(before["walls"])
    out.update({
        "caching.persistent_rdds_left": max(traced["rdds_left"]),
        "trace.untraced_wall_s": wall,
        "trace.traced_wall_s": statistics.median(traced["walls"]),
        "trace.overhead_s": statistics.median(traced["walls"]) - wall,
        "trace.attributed_s": attributed,
        "trace.unattributed_s": wall - attributed,
        "trace.unattributed_share": (wall - attributed) / wall,
    })
    if out.keys() != PER_LAYER.keys():
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: "
                           f"{sorted(out.keys() ^ PER_LAYER.keys())}")
    runs = (before, traced)
    merged = {k: sum(r[k] for r in runs) for k in ("failed", "attempted")}
    return {k: (float(v), PER_LAYER[k]) for k, v in out.items()}, merged
