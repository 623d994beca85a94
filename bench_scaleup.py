"""Synthesize the 10x scale-up corpus used for round-7 scale evidence.

Builds /tmp/vos_scaleup_10x as a copy of $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) with `documents` (and `embeddings`) scaled 10x:

  * 10 shifted-id copies of every document (doc_id + copy * (max_id+1)),
    so ids stay unique and dense;
  * every word in a copy's text gets a per-copy suffix ("w" -> "w~3"),
    so shingle document-frequency — and with it dedup candidate volume
    (sum over shingles of df^2) — scales LINEARLY like organic text
    instead of quadratically like naive duplication;
  * n_chars recomputed from the suffixed text (queries aggregate it);
  * embeddings get 10 shifted-id copies with a tiny deterministic
    per-copy rotation of the vector so ANN structure stays non-trivial.

Everything is derived deterministically from the driver's parquet at
run time — no results or intermediates are persisted across bench runs
(the OUTPUT here is an input corpus, synthesized once per invocation,
exactly like the testdata itself).

Usage:  python bench_scaleup.py [out_dir]
then:   SPARK_GRAFT_SF_DIR=/tmp/vos_scaleup_10x python bench_extra.py time <query> ...
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COPIES = 10


def scale_documents(src: str, dst: str) -> None:
    tbl = pq.read_table(src)
    doc_id = tbl.column("doc_id").to_numpy()
    text = tbl.column("text").to_pylist()
    lang = tbl.column("lang").to_pylist()
    source = tbl.column("source").to_pylist()
    span = int(doc_id.max()) + 1
    ids, texts, langs, sources, nchars = [], [], [], [], []
    for c in range(COPIES):
        suf = f"~{c}"
        for i, t in enumerate(text):
            t2 = t if c == 0 else " ".join(w + suf for w in t.split(" "))
            ids.append(int(doc_id[i]) + c * span)
            texts.append(t2)
            nchars.append(len(t2))
        langs.extend(lang)
        sources.extend(source)
    out = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(nchars, pa.int64()),
        }
    )
    pq.write_table(out, dst, row_group_size=16384)


def scale_embeddings(src: str, dst: str) -> None:
    tbl = pq.read_table(src)
    vec_id = tbl.column("vec_id").to_numpy()
    emb = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float32)
    label = tbl.column("label").to_numpy()
    span = int(vec_id.max()) + 1
    ids, vecs, labels = [], [], []
    for c in range(COPIES):
        # deterministic perturbation: copy c is the vectors rolled by c
        # positions (copy 0 unchanged), no epsilon, so identical source
        # vectors stay identical within each copy
        v = np.roll(emb, c, axis=1) if c else emb
        ids.append(vec_id + c * span)
        vecs.append(v)
        labels.append(label)
    out = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), pa.int64()),
            "embedding": pa.array(
                [list(map(float, row)) for row in np.concatenate(vecs)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(np.concatenate(labels), pa.int32()),
        }
    )
    pq.write_table(out, dst, row_group_size=4096)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/vos_scaleup_10x"
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(sf_dir):
        if not name.endswith(".parquet"):
            continue
        src = os.path.join(sf_dir, name)
        dst = os.path.join(out_dir, name)
        if name == "documents.parquet":
            scale_documents(src, dst)
        elif name == "embeddings.parquet":
            scale_embeddings(src, dst)
        else:
            shutil.copyfile(src, dst)
        print("wrote", dst)
    return 0


if __name__ == "__main__":
    sys.exit(main())
