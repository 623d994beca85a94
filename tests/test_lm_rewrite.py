"""Round-7: lm_bigram_score's mapInArrow bigram extraction must equal
the add-1 bigram-LM definition on adversarial tokenizations (multi-space
runs, leading/trailing spaces, 0/1-word docs, NULL text, repeated
bigrams)."""
from __future__ import annotations

import math

import pytest


def _reference(rows):
    """Pure-Python add-1 bigram LM mirror of the declared semantics:
    single-space split (empties kept), docs with <2 words or NULL text
    contribute no bigrams."""
    uni: dict[str, int] = {}
    bi: dict[str, int] = {}
    per_doc: dict[int, list[str]] = {}
    for doc_id, text in rows:
        if text is None:
            continue
        ws = text.split(" ")
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        grams = [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]
        if grams:
            per_doc[doc_id] = grams
        for g in grams:
            bi[g] = bi.get(g, 0) + 1
    v = float(len(uni))
    out = {}
    for doc_id, grams in per_doc.items():
        lps = [
            math.log((bi[g] + 1.0) / (uni[g.split(" ")[0]] + v)) for g in grams
        ]
        out[doc_id] = (len(grams), round(sum(lps) / len(lps), 4))
    return out


def test_lm_bigram_score_matches_reference(spark):
    from vietnamese_ocr_spark.operators.textstats import lm_bigram_score

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat  sat"),          # double space -> empty word token
        (3, " leading and trailing "),
        (4, "oneword"),               # no bigrams
        (5, ""),                      # [""] -> unigram only
        (6, None),                    # contributes nothing
        (7, "the cat sat on the mat"),  # exact repeat: doubles counts
        (8, "cat the cat the cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in lm_bigram_score(df).collect()
    }
    want = _reference(rows)
    assert got.keys() == want.keys()
    for d in want:
        assert got[d][0] == want[d][0], d
        assert got[d][1] == pytest.approx(want[d][1], abs=1e-9), d
