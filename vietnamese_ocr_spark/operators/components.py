"""Connected components over near-duplicate candidate pairs.

The step after pair generation in every production dedup pipeline:
candidate pairs (from MinHash bands / Jaccard / embedding cosine) form a
graph; each connected component is one duplicate cluster, and the
canonical document is the component's minimum doc_id. Keeping one doc per
component is what actually shrinks a 100-TB corpus.

Algorithm: min-label propagation with pointer jumping (the DataFrame
form of large-star/small-star a la Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14): each round every node adopts the
minimum label among itself and its neighbors, then additionally adopts
its label's OWN label (path halving), so chains collapse in O(log
diameter) rounds instead of O(diameter) — the difference between 40 and
10^12 rounds is irrelevant here, but between 40 and 12 shuffle rounds on
a 100-TB graph it is everything. Each round shuffles only (node, label)
pairs — never document content; localCheckpoint() truncates the growing
lineage so the plan stays O(1) deep, and the convergence test reads the
just-checkpointed frame (no recomputation). The checkpoints register with
caching.py, so the caller frees them with release_persisted() once it
has consumed the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import checkpoint_tracked


def connected_components(
    pairs: DataFrame, a: str = "da", b: str = "db", max_iter: int = 25
) -> DataFrame:
    """pairs(a, b) -> (doc_id, component) for every doc in any pair;
    component = min doc_id reachable through the pair graph."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = checkpoint_tracked(edges)

    # Round-7: the first propagation round is folded into initialization.
    # With identity labels, round 1's neighbor-label join is just the edge
    # list itself, so label(v) = min(v, min neighbor) is ONE aggregation
    # over the symmetric edges — no identity-label exchange, no join, and
    # no convergence count (an edge (a,b), a<b, always relabels b, so the
    # first round can never be the converged one). The loop below reaches
    # the same fixpoint: it only stops on a full no-change round, and the
    # stable point of min-label propagation is the per-component minimum
    # regardless of the intermediate schedule.
    labels = checkpoint_tracked(
        edges.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "_m").alias("label"),
        )
    )

    for _ in range(max_iter):
        # each node's candidates: its own label + its neighbors' labels
        nbr_labels = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        mins = (
            labels.unionByName(nbr_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: also adopt the label's own label, l(l(v)) —
        # labels double their reach each round, collapsing long chains
        jumped = mins.join(
            mins.select(F.col("node").alias("label"), F.col("label").alias("ll")),
            "label",
            "left",
        ).select(
            "node",
            F.least("label", F.coalesce("ll", "label")).alias("label"),
        )
        # carry the previous label through the checkpoint so convergence
        # reads the materialized frame instead of recomputing the round
        new_labels = checkpoint_tracked(
            jumped.join(labels.withColumnRenamed("label", "old"), "node")
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("old")).limit(1).count()
        )
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def canonical_docs(pairs: DataFrame, docs: DataFrame, key: str = "doc_id",
                   a: str = "da", b: str = "db") -> DataFrame:
    """Dedup by cluster: keep one canonical row per duplicate component
    (the min doc_id) plus every doc that appears in no pair. This is the
    materialized 'shrunk corpus' a near-dup pass produces."""
    comp = connected_components(pairs, a, b)
    losers = comp.filter(F.col(key) != F.col("component")).select(key)
    return docs.join(losers, key, "left_anti")
