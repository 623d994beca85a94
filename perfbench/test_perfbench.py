"""Tests of the benchmark's own generator, parsers and output checks.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import inputs  # noqa: E402

TINY_LOG = os.path.join(HERE, "testdata", "eventlog_v2_local-tiny")


def test_media_corpus_fingerprint_is_a_function_of_the_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "WORK", str(tmp_path / "work"))
    fps = []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        out = tmp_path / name
        os.makedirs(out)
        inputs._build_media(seed, str(out), shards=2, n_docs=12, n_whales=1)
        fps.append(inputs.fingerprint(str(out)))
    assert fps[0] == fps[1] != fps[2]
    docs = pq.read_table(str(tmp_path / "a" / "documents"))
    assert docs.num_rows == 2 * (12 + 1 + 10)
    assert len(set(docs["doc_id"].to_pylist())) == docs.num_rows  # ids unique across shards


def test_curate_inputs_are_the_committed_sf_tables_whatever_the_seed():
    d1, m1 = inputs.prepare_inputs("curate_queries", 1)
    d2, m2 = inputs.prepare_inputs("curate_queries", 2)
    assert d1 == d2 == inputs.SF_DIR
    assert m1["fingerprint"] == m2["fingerprint"]
    assert m1["docs"] == 5000


def test_event_log_folds_by_phase_and_reconciles():
    folded = eventlog.fold(eventlog.read_events(TINY_LOG))
    assert set(folded) == {"iter", "layers"}
    it = folded["iter"]
    assert it["jobs"] >= 1 and it["stages"] >= 1 and it["tasks"] >= it["stages"]
    m = eventlog.spark_metrics(it)
    assert m["spark.task_stage_reconcile"] == pytest.approx(1.0, abs=0.1)
    assert m["spark.python_run_s"] > 0 and m["spark.python_bytes_sent"] > 0
    assert 0 < m["spark.python_task_share"] <= 1
    assert m["spark.shuffle_write_bytes"] > 0
    halved = eventlog.spark_metrics(it, per=2)
    assert halved["spark.tasks"] == pytest.approx(m["spark.tasks"] / 2)


def _write_table(root, docs: list[dict]) -> None:
    """A one-snapshot table in the ExtractTable layout."""
    d = os.path.join(root, "extracted", "w-1")
    os.makedirs(d)
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema(
        [("doc_id", pa.string()), ("spans", pa.list_(span))])), os.path.join(d, "part-0.parquet"))
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump({"snapshots": [{"snapshot_id": 1, "data_files": ["w-1/part-0.parquet"]}]}, f)


GOLDEN = {
    "d0": [],
    "d1": [("text", "hello", "", 1), ("media", "abc", "m1", 3)],
    "d2": [("media", "a", "m2", 2)],
}


def _docs(golden):
    return [{"doc_id": d, "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s))
                                    for s in spans]} for d, spans in golden.items()]


def test_extract_check_accepts_the_golden_and_catches_corruption(tmp_path):
    want = inputs.golden_table(GOLDEN)
    _write_table(str(tmp_path / "ok"), _docs(GOLDEN))
    assert inputs.spans_match(inputs.snapshot_spans(str(tmp_path / "ok")), want)

    corrupt = {**GOLDEN, "d1": [("text", "hellO", "", 1), ("media", "abc", "m1", 3)]}
    _write_table(str(tmp_path / "text"), _docs(corrupt))
    assert not inputs.spans_match(inputs.snapshot_spans(str(tmp_path / "text")), want)

    swapped = {**GOLDEN, "d1": list(reversed(GOLDEN["d1"]))}
    _write_table(str(tmp_path / "order"), _docs(swapped))
    assert not inputs.spans_match(inputs.snapshot_spans(str(tmp_path / "order")), want)

    _write_table(str(tmp_path / "lost"), _docs({k: v for k, v in GOLDEN.items() if k != "d0"}))
    assert not inputs.spans_match(inputs.snapshot_spans(str(tmp_path / "lost")), want)


def _alive_with(marker: str) -> list[str]:
    pids = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker.encode() in f.read():
                    pids.append(d)
        except OSError:
            pass
    return pids


def test_reap_waits_for_orphaned_grandchildren():
    """A grandchild whose parent exits at once (as the JVM's Python daemon
    does when the JVM stops) must have ended when the run does."""
    marker = f"PERFBENCH_TEST_{os.getpid()}"
    code = ("import subprocess, session; session.adopt_orphans(); "
            "subprocess.Popen(['sh', '-c', '(sleep 1) & exit 0']).wait(); session.reap()")
    subprocess.run([sys.executable, "-c", code], cwd=HERE, check=True, timeout=60,
                   env={**os.environ, marker: "1"})
    assert _alive_with(marker) == []


def test_query_check_is_engine_neutral_but_catches_changed_values():
    from decimal import Decimal

    duck = inputs.canonical_rows([(2, Decimal("0.5000001"), "x"), (1, 0.25, "y")], ["a", "b", "c"])
    spark = inputs.canonical_rows([("y", 1, 0.25), ("x", 2, 0.5000001)], ["c", "a", "b"])
    assert duck == spark
    assert duck != inputs.canonical_rows([("y", 1, 0.25), ("x", 2, 0.6)], ["c", "a", "b"])

