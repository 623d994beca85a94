"""Streaming variant: file-stream in -> same span-equality out."""

from __future__ import annotations

import glob
import json
import os
import shutil

from vietnamese_ocr_spark import caching
from vietnamese_ocr_spark.streaming.stream_extract import stream_extract


def test_stream_extract_matches_oracle(spark, corpus, golden, tmp_path):
    # split the documents table into an append-only stream dir
    stream_dir = str(tmp_path / "stream_in")
    os.makedirs(stream_dir)
    src = corpus["documents"]
    parts = sorted(glob.glob(src + "/*.parquet")) if os.path.isdir(src) else [src]
    for i, p in enumerate(parts):
        shutil.copy(p, os.path.join(stream_dir, f"batch-{i:04d}.parquet"))

    out = str(tmp_path / "stream_out")
    caching.release_persisted()  # frames earlier tests left tracked
    rdds_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    q = stream_extract(
        spark, stream_dir, corpus["media"], out,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # every micro-batch released what it cached: no frame or RDD per epoch
    assert caching._TRACKED == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == rdds_before

    rows = spark.read.option("recursiveFileLookup", "true").parquet(out + "/extracted").collect()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }
    assert got == golden
    # lineage was committed per epoch
    lin = spark.read.parquet(out + "/lineage")
    assert lin.count() >= 1
    # micro-batches commit the batch path's manifest entries
    with open(os.path.join(out, "manifest.json")) as f:
        snaps = json.load(f)["snapshots"]
    assert snaps and all(
        "media_recognized_this_run" in snap and "data_files" in snap
        for snap in snaps
    )


def test_stream_extract_restart_resumes_without_duplicates(
    spark, corpus, golden, tmp_path
):
    """Crash/restart: stop the query mid-corpus, restart on the SAME
    checkpoint dir, append the rest — the checkpoint replays nothing
    already processed and the committed-doc anti-join dedupes any
    overlap, so every doc_id appears exactly once and spans stay exact."""
    stream_dir = str(tmp_path / "stream_in")
    os.makedirs(stream_dir)
    src = corpus["documents"]
    parts = sorted(glob.glob(src + "/*.parquet")) if os.path.isdir(src) else [src]
    half = max(1, len(parts) // 2)
    for i, p in enumerate(parts[:half]):
        shutil.copy(p, os.path.join(stream_dir, f"batch-{i:04d}.parquet"))

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract(spark, stream_dir, corpus["media"], out,
                       checkpoint_dir=ckpt, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # "crash"

    for i, p in enumerate(parts[half:], start=half):
        shutil.copy(p, os.path.join(stream_dir, f"batch-{i:04d}.parquet"))
    q2 = stream_extract(spark, stream_dir, corpus["media"], out,
                        checkpoint_dir=ckpt, max_files_per_trigger=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.option("recursiveFileLookup", "true").parquet(out + "/extracted").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicate doc_ids after restart"
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }
    assert got == golden


def test_stream_extract_midcommit_crash_is_exactly_once(
    spark, corpus, golden, tmp_path, monkeypatch
):
    """The exactly-once commit property (round-4 verdict item 6): a
    micro-batch dies in the WORST crash window — data files already on
    disk, snapshot commit never happened. The table must not surface the
    orphaned files in any committed read; the restart must replay the
    batch through the committed-doc anti-join and converge to every doc
    exactly once with exact spans; and the orphans stay protected by the
    remove_orphans age gate until explicitly reclaimed."""
    import pytest

    from vietnamese_ocr_spark.sources.tableio import ExtractTable

    stream_dir = str(tmp_path / "stream_in")
    os.makedirs(stream_dir)
    src = corpus["documents"]
    parts = sorted(glob.glob(src + "/*.parquet")) if os.path.isdir(src) else [src]
    for i, p in enumerate(parts):
        shutil.copy(p, os.path.join(stream_dir, f"batch-{i:04d}.parquet"))

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    real_commit = ExtractTable.commit
    calls = {"n": 0}

    def sabotaged(self, run_id, stats, expect_snapshot=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash between data write and commit")
        return real_commit(self, run_id, stats, expect_snapshot=expect_snapshot)

    monkeypatch.setattr(ExtractTable, "commit", sabotaged)
    q = stream_extract(spark, stream_dir, corpus["media"], out,
                       checkpoint_dir=ckpt, max_files_per_trigger=1)
    with pytest.raises(Exception):
        q.processAllAvailable()
    q.stop()

    table = ExtractTable(out)
    # crash window state: data files on disk, zero committed snapshots,
    # and committed reads refuse to surface the orphans
    assert len(table._data_files()) >= 1
    assert table.manifest()["snapshots"] == []
    with pytest.raises(ValueError):
        table.read_snapshot(spark)

    # restart on the SAME checkpoint with the repaired commit: streaming
    # replays the uncommitted epoch, the anti-join sees nothing committed
    # and reprocesses it
    q2 = stream_extract(spark, stream_dir, corpus["media"], out,
                        checkpoint_dir=ckpt, max_files_per_trigger=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = table.read_snapshot(spark).collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicate doc_ids after crash replay"
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }
    assert got == golden

    # the first batch's orphaned files are still on disk (uncommitted),
    # protected by the age gate, reclaimable once old enough — and the
    # committed state is untouched by the cleanup
    assert table.remove_orphans()["deleted_files"] == 0  # 3-day default gate
    assert table.remove_orphans(older_than_s=0.0)["deleted_files"] >= 1
    assert {r["doc_id"] for r in table.read_snapshot(spark).collect()} == set(ids)
