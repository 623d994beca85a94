"""Connected-components dedup clustering (operators/components.py)."""

from __future__ import annotations

from vietnamese_ocr_spark.operators.components import canonical_docs, connected_components


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "da bigint, db bigint")


def test_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # pair {10, 11}, and a separate pair {20, 21}
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)])
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_components_long_chain_converges(spark):
    # a 12-node path: needs ~log rounds of min-label propagation
    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 12)])
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 13)}


def test_canonical_docs_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id bigint, text string"
    )
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    kept = sorted(r["doc_id"] for r in canonical_docs(pairs, docs).collect())
    # clusters {1,2,3} -> keep 1; {5,6} -> keep 5; 4 and 7 untouched
    assert kept == [1, 4, 5, 7]


def test_release_frees_the_components_checkpoints(spark):
    """Each propagation round is localCheckpoint()ed, which persists an
    RDD that the frame's unpersist() does not reach; one
    release_persisted() must free them all once the result is consumed."""
    from vietnamese_ocr_spark.caching import release_persisted

    jsc = spark.sparkContext._jsc
    release_persisted()  # drain anything earlier tests left behind
    before = jsc.getPersistentRDDs().size()
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert jsc.getPersistentRDDs().size() > before
    release_persisted()
    assert jsc.getPersistentRDDs().size() == before
