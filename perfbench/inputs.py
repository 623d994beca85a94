"""Benchmark inputs, their oracle answers, and the output checks.

The extract corpus is made from the seed by the package's source-side
generators (`sources.fixtures.generate_corpus`, `sources.sf_adapter.
mixed_asset`), post-processed here (ids renamed per shard, a share of the
payloads re-encoded), and cached under the work directory per (seed,
source digest). The curation queries read byte-identical copies of the
repository's sf0.1 `documents` and `embeddings` tables, committed under
testdata/sf0.1, so the seed selects nothing for them. Oracle answers are
cached per (input fingerprint, source digest). The source digest covers
the package and this file, so a code change never reads a stale cache.
Nothing here runs inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# extract corpus size: one iteration takes a few seconds on local[4], so a
# whole run stays well inside its time limit
MEDIA_DOCS_PER_SHARD = 480
WHALES_PER_SHARD = 24
SHARDS = 4
MIXED_SHARE = 0.10
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.1")

CURATE_QUERIES = [
    "dedup_minhash_pipeline",
    "dedup_simhash",
    "similarity_knn_join",
    "quality_repetition",
    "quality_score",
    "lm_perplexity",
]


def fingerprint(path: str) -> str:
    """sha256 over every file under `path` (relative name + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:20]


def source_digest() -> str:
    """sha256 over the package's Python sources and this module."""
    h = hashlib.sha256()
    paths = [os.path.abspath(__file__)]
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "vietnamese_ocr_spark")):
        dirs.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _cached(kind: str, key: str, build) -> tuple[str, dict]:
    """Run build(tmp_dir) -> meta once per key; returns (dir, meta)."""
    out = os.path.join(WORK, kind, key)
    marker = os.path.join(out, "_meta.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    meta = build(tmp)
    meta["build_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, meta


def _run_pool(fn, args: list) -> list:
    pool = get_context("spawn").Pool(min(len(args), SHARDS))
    try:
        return pool.map(fn, args)
    finally:
        pool.close()
        pool.join()


def _seq(seed: int, k: int) -> int:
    return seed * 7919 + k + 1


# -- extract corpora ---------------------------------------------------------


def _media_shard(args) -> None:
    """One shard of the extract_media corpus: a generate_corpus corpus
    without whales plus one of only whales (so every seed carries the
    same whale count), ids renamed to be unique across corpora, and
    MIXED_SHARE of the payloads re-encoded by mixed_asset, cycling its 20
    variants (JPEG/WebP/GIF/TIFF/BMP/PNM/ICO/truncated...) evenly."""
    seed, k, tmp, out, n_docs, n_whales = args
    from vietnamese_ocr_spark.sources.fixtures import (
        DOCUMENTS_SCHEMA, MEDIA_SCHEMA, generate_corpus)
    from vietnamese_ocr_spark.sources.sf_adapter import mixed_asset

    docs, media = [], []
    # generate_corpus makes docs 0-9 its edge cases, so the whale corpus
    # has 10 more docs than whales
    for part, n, whale_frac in (("n", n_docs, 0.0), ("w", n_whales + 10, 1.0)):
        gen_dir = os.path.join(tmp, f"gen{k}{part}")
        paths = generate_corpus(n, gen_dir, seed=_seq(seed, 2 * k + (part == "w")),
                                whale_frac=whale_frac)
        pre = f"s{k}{part}-"
        for d in pq.read_table(paths["documents"]).to_pylist():
            d["doc_id"] = pre + d["doc_id"]
            for s in d["spans"]:
                if s["media_ref"]:
                    s["media_ref"] = pre + s["media_ref"]
            docs.append(d)
        for m in pq.read_table(paths["media"]).to_pylist():
            m["media_ref"] = pre + m["media_ref"]
            media.append(m)
        shutil.rmtree(gen_dir)
    rng = np.random.default_rng(_seq(seed, k) + 17)
    picks = rng.permutation(len(media))[:round(MIXED_SHARE * len(media))]
    for j, i in enumerate(sorted(picks)):
        m = media[int(i)]
        asset = mixed_asset(2 * ((j + 7 * k) % 20) + 40 * int(rng.integers(0, 1000)), m["truth"])
        m["png"], m["size_b"] = asset["payload"], len(asset["payload"])
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCUMENTS_SCHEMA),
                   os.path.join(out, "documents", f"part-{k}.parquet"))
    pq.write_table(pa.Table.from_pylist(media, schema=MEDIA_SCHEMA),
                   os.path.join(out, "media", f"part-{k}.parquet"))


def _build_media(seed: int, tmp: str, shards: int = SHARDS,
                 n_docs: int = MEDIA_DOCS_PER_SHARD, n_whales: int = WHALES_PER_SHARD) -> dict:
    os.makedirs(os.path.join(tmp, "documents"))
    os.makedirs(os.path.join(tmp, "media"))
    scratch = os.path.join(WORK, "gen", f"{os.getpid()}")
    _run_pool(_media_shard, [(seed, k, scratch, tmp, n_docs, n_whales) for k in range(shards)])
    shutil.rmtree(scratch, ignore_errors=True)
    return {"docs": (n_docs + n_whales + 10) * shards}


def prepare_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """(input dir, meta with docs, build_s, fingerprint) for this seed."""
    if workload == "curate_queries":
        docs = pq.ParquetFile(os.path.join(SF_DIR, "documents.parquet")).metadata.num_rows
        return SF_DIR, {"docs": docs, "build_s": 0.0, "fingerprint": fingerprint(SF_DIR)}

    def build(tmp):
        meta = _build_media(seed, tmp)
        meta["fingerprint"] = fingerprint(tmp)
        return meta

    return _cached("inputs", f"{workload}-{seed}-{source_digest()}", build)


# -- oracle answers ------------------------------------------------------------


def _golden_part(args) -> tuple[dict, float]:
    docs_path, media_path = args
    from vietnamese_ocr_spark.oracle import extract

    t0 = time.perf_counter()
    g = extract(docs_path, media_path)
    return g, time.perf_counter() - t0


_SPAN_COLS = ("doc_id", "pos", "kind", "text", "media_ref", "offset")


def golden_table(golden: dict[str, list[tuple]]) -> tuple[pa.Table, pa.Array]:
    """Flattened (doc_id, pos, kind, text, media_ref, offset) spans sorted
    by (doc_id, pos), plus the sorted doc_id set (empty docs included)."""
    rows = {k: [] for k in _SPAN_COLS}
    for doc_id in sorted(golden):
        for pos, (kind, text, ref, off) in enumerate(golden[doc_id]):
            for k, v in zip(rows, (doc_id, pos, kind, text, ref, off)):
                rows[k].append(v)
    return _spans_table(rows), pa.array(sorted(golden), pa.string())


def _spans_table(rows: dict) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(rows["doc_id"], pa.string()),
        "pos": pa.array(rows["pos"], pa.int64()),
        "kind": pa.array(rows["kind"], pa.string()),
        "text": pa.array(rows["text"], pa.string()),
        "media_ref": pa.array(rows["media_ref"], pa.string()),
        "offset": pa.array(rows["offset"], pa.int32()),
    })


def prepare_golden(workload: str, input_dir: str, meta: dict) -> tuple[str, dict]:
    """Oracle answers cached by input fingerprint. extract_media: the
    single-process `oracle.extract` golden, one shard per pool process
    (build_1t_s sums their one-thread walls). curate_queries: each
    query's ORACLE_SQL answer from DuckDB."""
    def build(tmp):
        if workload == "curate_queries":
            return _duck_answers(input_dir, tmp)
        parts = _run_pool(_golden_part, [
            (os.path.join(input_dir, "documents", f), os.path.join(input_dir, "media", f))
            for f in sorted(os.listdir(os.path.join(input_dir, "documents")))])
        golden: dict = {}
        for g, _ in parts:
            golden.update(g)
        spans, doc_ids = golden_table(golden)
        pq.write_table(spans, os.path.join(tmp, "spans.parquet"))
        pq.write_table(pa.table({"doc_id": doc_ids}), os.path.join(tmp, "docs.parquet"))
        return {"build_1t_s": sum(w for _, w in parts)}

    return _cached("golden", f"{workload}-{meta['fingerprint']}-{source_digest()}", build)


def _duck_answers(input_dir: str, tmp: str) -> dict:
    import duckdb
    from vietnamese_ocr_spark.plans.queries import ORACLE_SQL

    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        con.execute(f"create view {name} as select * from read_parquet('{input_dir}/{name}.parquet')")
    answers = {}
    for q in CURATE_QUERIES:
        res = con.execute(ORACLE_SQL[q])
        answers[q] = {"cols": [d[0] for d in res.description],
                      "rows": canonical_rows(res.fetchall(), [d[0] for d in res.description])}
    con.close()
    with open(os.path.join(tmp, "answers.json"), "w") as f:
        json.dump(answers, f)
    return {"build_1t_s": 0.0}


# -- output checks -------------------------------------------------------------


def canonical_rows(rows: list, cols: list[str]) -> list[list]:
    """Rows with columns in name order, floats rounded to 6 digits,
    sorted — engine-independent form of a query answer."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, float):
            return None if math.isnan(v) else round(v, 6)
        if isinstance(v, (int, str)) or v is None:
            return v
        try:  # Decimal and friends
            f = float(v)
            return int(f) if f.is_integer() else round(f, 6)
        except (TypeError, ValueError):
            return str(v)

    out = [[cell(r[i]) for i in order] for r in rows]
    return sorted(out, key=lambda r: json.dumps(r))


def snapshot_spans(table_root: str) -> tuple[pa.Table, pa.Array]:
    """The committed snapshot of an ExtractTable, flattened like
    golden_table, read through its manifest with pyarrow."""
    from vietnamese_ocr_spark.sources.tableio import ExtractTable

    t = ExtractTable(table_root)
    files: list[str] = []
    for s in t.manifest()["snapshots"]:
        if s.get("operation") == "replace":
            files = []
        files += s.get("data_files", [])
    if not files:
        return _spans_table({k: [] for k in _SPAN_COLS}), pa.array([], pa.string())
    return flatten_docs(pa.concat_tables(
        [pq.read_table(os.path.join(t.extracted_dir, f), columns=["doc_id", "spans"]) for f in files]))


def flatten_docs(tbl: pa.Table) -> tuple[pa.Table, pa.Array]:
    spans = tbl["spans"].combine_chunks()
    doc_ids = tbl["doc_id"].combine_chunks()
    parents = pc.list_parent_indices(spans)
    flat = pc.list_flatten(spans)
    starts = pc.take(spans.offsets, parents)
    pos = pc.subtract(pa.array(np.arange(len(flat), dtype=np.int64)), pc.cast(starts, pa.int64()))
    out = pa.table({
        "doc_id": pc.take(doc_ids, parents),
        "pos": pos,
        "kind": flat.field("kind"),
        "text": flat.field("text"),
        "media_ref": flat.field("media_ref"),
        "offset": pc.cast(flat.field("offset"), pa.int32()),
    }).sort_by([("doc_id", "ascending"), ("pos", "ascending")])
    return out, pc.take(doc_ids, pc.sort_indices(doc_ids))


def spans_match(got: tuple[pa.Table, pa.Array], want: tuple[pa.Table, pa.Array]) -> bool:
    """Doc-by-doc equality on (kind, text, media_ref, offset, order)."""
    g_spans, g_docs = got
    w_spans, w_docs = want
    return g_docs.equals(w_docs) and g_spans.equals(w_spans)


def load_golden(golden_dir: str) -> tuple[pa.Table, pa.Array]:
    spans = pq.read_table(os.path.join(golden_dir, "spans.parquet"))
    docs = pq.read_table(os.path.join(golden_dir, "docs.parquet"))["doc_id"].combine_chunks()
    return spans, docs
