"""Thin smoke tests for the round-3 CLI surfaces (explain, maintain,
augment are API-tested elsewhere; these pin the argparse wiring)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_explain_cli_prints_physical_plan():
    out = subprocess.run(
        [sys.executable, "-m", "vietnamese_ocr_spark", "explain",
         "--query", "dedup_exact", "--sf", "/root/testdata/sf0.001",
         "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-800:]
    assert "Physical Plan" in out.stdout
    assert "HashAggregate" in out.stdout  # the dedup digest agg


def test_explain_cli_rejects_unknown_query():
    out = subprocess.run(
        [sys.executable, "-m", "vietnamese_ocr_spark", "explain",
         "--query", "definitely_not_a_query"],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert out.returncode == 1
    assert "unknown query" in out.stderr


def test_tokenize_cli(tmp_path):
    import json

    out = subprocess.run(
        [sys.executable, "-m", "vietnamese_ocr_spark", "tokenize",
         "--documents", "/root/testdata/sf0.001/documents.parquet",
         "--out", str(tmp_path / "tok"), "--merges", "8",
         "--master", "local[4]"],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    assert stats["merges"] == 8 and stats["docs"] > 0 and stats["total_tokens"] > 0
    merges = json.load(open(tmp_path / "tok" / "merges.json"))
    assert len(merges) == 8 and all(len(m) == 2 for m in merges)
