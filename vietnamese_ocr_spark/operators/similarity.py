"""Similarity search over embedding columns (array<float>).

brute-force cosine top-k is the exact baseline; sign-LSH bucketing and
IVF cell search are the scale paths (candidates within a bucket/cell
only, never all-pairs). At 10^12 scale you'd pre-bucket (IVF/LSH) and
only brute-force inside buckets — exactly the shape `ivf_topk` /
`lsh_sign_buckets` + `cosine_topk_against` compose into.

Plan discipline (round-3 rewrite): centroid assignment is a PACKED
form — the k x d codebook is collapsed into ONE row holding
array<struct<cid, c2, cv:array<double>>> and broadcast; each vector
computes its nearest centroid inside a single whole-stage-codegen'd
projection via aggregate(zip_with(...)) + array_min(struct(dist, cid)).
No per-dimension explode (the old d-fold Generate), no groupBy partial
table, no row_number window: the assignment subtree is scan ->
1-row broadcast nested-loop join -> project. The only remaining
aggregations are the genuinely reductive ones (k-means centroid
updates, final top-k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import checkpoint_tracked

# round-7: the packed-codebook assignment is a CPU-heavy projection
# (aggregate/zip_with higher-order functions are CodegenFallback —
# interpreted — so k x d fused multiply-adds per row cost real CPU), and
# a single-file embeddings table scans as 1-2 input splits. Re-spread
# under-split inputs across the cluster before those projections, with
# the same file-count guard dedup uses (a real many-file table skips it).
from .dedup import _spread as _respread  # noqa: E402


def _vec() -> Column:
    return F.col("embedding").cast("array<double>")


def _dot(a: Column, b) -> Column:
    """Sequential-fold dot product, fully inside codegen (no explode)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _sq_norm(a) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact top-k by cosine to the row with vec_id=query_vec_id.

    The query vector is a one-row DataFrame joined by dimension position —
    Catalyst broadcasts it, so the big side streams once with no shuffle
    until the final (tiny) top-k sort. Kept as the reference form the
    zip variant (cosine_topk_zip) is property-tested against; the d-fold
    explode makes it the didactic/oracle-anchor form, so it is EXTRA-only
    by design — production paths (bench + driver window) use the
    zip/packed forms below.
    """
    dims = embeddings.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    qdims = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "qv"))
    )
    scored = (
        dims.join(F.broadcast(qdims), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("v") * F.col("qv")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"),
            F.sqrt(F.sum(F.col("qv") * F.col("qv"))).alias("nq"),
        )
        .select(
            "vec_id",
            F.round(F.col("dot") / (F.col("nv") * F.col("nq")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def _query_vec(embeddings: DataFrame, query_vec_id: int) -> list[float]:
    """One-row driver fetch of the query vector (a few hundred bytes) —
    the canonical way to parameterize a scan-side projection; the corpus
    never leaves the executors."""
    return list(
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .head()[0]
    )


def cosine_topk_zip(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact cosine top-k via zip_with/aggregate — the per-row form.

    cosine_topk (above) explodes to (vec, pos) rows and joins by
    dimension: at 10^12 vectors x 64 dims that is a 64x row fan-out plus
    a groupBy shuffle. Here the query vector is collected once (one row,
    64 floats) and inlined as an array literal, so the whole dot product
    runs INSIDE one whole-stage-codegen'd projection over the scan — no
    explode, no join, no aggregation shuffle; the only exchange is the
    final k-row top-k. Same output, same oracle; strictly better plan
    for the single-query case."""
    return cosine_topk_against(_respread(embeddings), embeddings, query_vec_id, k)


def cosine_topk_against(candidates: DataFrame, embeddings: DataFrame,
                        query_vec_id: int, k: int) -> DataFrame:
    """Exact cosine top-k of `candidates` against one query row — the
    zip_with projection form (no explode, no join): one pass over the
    candidate cell, then a k-row TakeOrdered."""
    q = _query_vec(embeddings, query_vec_id)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    nq = float(sum(x * x for x in q)) ** 0.5
    v = _vec()
    scored = candidates.select(
        "vec_id",
        F.round(_dot(v, qlit) / (F.sqrt(_sq_norm(v)) * F.lit(nq)), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


# ---------------------------------------------------------------------------
# packed-codebook assignment (shared by IVF first-n, IVF k-means, k-means)
# ---------------------------------------------------------------------------


def _pack_centroids(cent: DataFrame) -> DataFrame:
    """Collapse an exploded (cid, pos, cv) codebook into ONE row:
    cents = array<struct<cid, c2, cv:array<double>>> sorted by cid.

    k x d values total (k<=1024, d<=4096 -> a few MB worst case), so the
    single row broadcasts to every executor exactly like a codebook file
    would in a native IVF implementation. c2 = ||c||^2 is folded in here
    so assignment needs no second join."""
    per = (
        cent.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
            ).alias("cv")
        )
        .select("cid", _sq_norm(F.col("cv")).alias("c2"), "cv")
    )
    return per.agg(F.array_sort(F.collect_list(F.struct("cid", "c2", "cv"))).alias("cents"))


def _with_cents(embeddings: DataFrame, packed: DataFrame) -> DataFrame:
    """Attach the 1-row packed codebook to every vector row. Catalyst
    plans this as a BroadcastNestedLoopJoin with a single build row —
    effectively a broadcast variable, but visible to the optimizer."""
    return embeddings.crossJoin(F.broadcast(packed))


def _l2_dist_key(c: Column) -> Column:
    """argmin(||v-c||^2) == argmin(||c||^2 - 2<v,c>): the per-vector
    ||v||^2 term is constant across centroids and never computed.
    Rounded to 9 dp so Spark and the DuckDB oracle quantize float-sum
    noise identically before the argmin."""
    return F.round(c["c2"] - 2 * _dot(_vec(), c["cv"]), 9)


def _assign(embeddings: DataFrame, packed: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by squared L2 as ONE codegen'd
    projection: array_min over struct(dist_key, cid) gives the argmin
    with the cid-ascending tiebreak (struct ordering is field-major).
    No Generate, no Window, no aggregation — scan-shaped, so it scales
    with the corpus and nothing else."""
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(_l2_dist_key(c).alias("dist_key"), c["cid"].alias("cid")),
        )
    )
    return _with_cents(embeddings, packed).select(
        "vec_id", best["cid"].alias("cluster")
    )


def _probe_cells_l2(embeddings: DataFrame, query_vec_id: int, packed: DataFrame,
                    nprobe: int) -> DataFrame:
    """The query's `nprobe` nearest cells (by the same L2 key) as one row
    {probes: array<cid>} — multi-probe IVF's candidate-cell list."""
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(_l2_dist_key(c).alias("dist_key"), c["cid"].alias("cid")),
            )
        ),
        1,
        nprobe,
    )
    return _with_cents(
        embeddings.filter(F.col("vec_id") == query_vec_id), packed
    ).select(F.transform(ranked, lambda s: s["cid"]).alias("probes"))


def _first_n_packed(embeddings: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic first-n codebook (stand-in for a trained one),
    packed. Assignment key here is DOT (similarity), matching the
    original ivf_topk semantics: argmax(dot) with cid-asc tiebreak."""
    per = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), _vec().alias("cv")
    )
    return per.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents"))


def _dot_key(c: Column) -> Column:
    # negate so array_min/array_sort-ascending picks the LARGEST dot,
    # with ties broken by the SMALLEST cid (second struct field).
    return -F.round(_dot(_vec(), c["cv"]), 9)


def ivf_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10,
             n_centroids: int = 8, nprobe: int = 1) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its best centroid
    (max dot), then brute-force cosine only inside the query's `nprobe`
    best cells — the scale path where corpus-wide brute force won't.

    Centroids are the first `n_centroids` vectors (deterministic
    stand-in for a k-means codebook; `ivf_topk_kmeans` trains one).
    Plan shape: 1-row broadcast of the packed codebook, assignment as a
    pure projection (no Generate/Window — see module docstring), a
    broadcast semi-join of the tiny probe list, zip-form scoring inside
    the candidate cells."""
    packed = _first_n_packed(embeddings, n_centroids)
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(_dot_key(c).alias("nd"), c["cid"].alias("cid")),
        )
    )
    assign = _with_cents(_respread(embeddings), packed).select(
        "vec_id", best["cid"].alias("cluster")
    )
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(_dot_key(c).alias("nd"), c["cid"].alias("cid")),
            )
        ),
        1,
        nprobe,
    )
    probes = _with_cents(
        embeddings.filter(F.col("vec_id") == query_vec_id), packed
    ).select(F.transform(ranked, lambda s: s["cid"]).alias("probes"))
    candidates = assign.join(
        F.broadcast(probes), F.array_contains(F.col("probes"), F.col("cluster"))
    ).select("vec_id")
    cell = embeddings.join(candidates, "vec_id")
    return cosine_topk_against(cell, embeddings, query_vec_id, k)


def _explode_dims(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )


def kmeans_codebook(embeddings: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Distributed Lloyd's k-means codebook -> (cid, pos, cv) exploded.

    Deterministic init (the first k vec_ids), fixed iteration count so the
    DuckDB oracle can unroll the same rounds as CTEs. Each round is one
    1-row packed-codebook broadcast + a projection-only assignment, then
    one map-side-combined groupBy for the centroid update; nothing
    driver-side, no collect. Centroid coordinates round to 6 dp per round
    so both engines quantize float noise identically. localCheckpoint
    truncates the per-round lineage (registered with caching.py, so
    release_persisted() frees it once the codebook is consumed). At
    10^12 scale you'd train on a sample table; the plan is unchanged."""
    embeddings = _respread(embeddings)
    dims = _explode_dims(embeddings)
    cent = dims.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), "pos", F.col("v").alias("cv")
    )
    for _ in range(iters):
        assign = _assign(embeddings, _pack_centroids(cent))
        cent = checkpoint_tracked(
            dims.join(assign, "vec_id")
            .groupBy(F.col("cluster").alias("cid"), F.col("pos"))
            .agg(F.round(F.avg("v"), 6).alias("cv"))
        )
    return cent


def ivf_topk_kmeans(embeddings: DataFrame, query_vec_id: int, k: int = 10,
                    n_centroids: int = 8, iters: int = 2,
                    nprobe: int = 1) -> DataFrame:
    """IVF ANN with a trained k-means codebook (upgrades ivf_topk's
    first-n stand-in): train centroids, assign every vector to its cell
    (projection-only packed assignment), brute-force cosine inside the
    query's `nprobe` nearest cells."""
    packed = _pack_centroids(kmeans_codebook(embeddings, k=n_centroids, iters=iters))
    probes = _probe_cells_l2(embeddings, query_vec_id, packed, nprobe)
    candidates = _assign(_respread(embeddings), packed).join(
        F.broadcast(probes), F.array_contains(F.col("probes"), F.col("cluster"))
    ).select("vec_id")
    cell = embeddings.join(candidates, "vec_id")
    return cosine_topk_against(cell, embeddings, query_vec_id, k)


def ivf_recall(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10,
               n_centroids: int = 8, nprobe: int = 2) -> DataFrame:
    """Measured recall@k of multi-probe IVF vs exact brute force —
    the number an ANN deployment actually tunes nprobe against.
    Returns one row (k, nprobe, recall)."""
    approx = ivf_topk(embeddings, query_vec_id, k, n_centroids, nprobe).select("vec_id")
    exact = cosine_topk_zip(embeddings, query_vec_id, k).select("vec_id")
    return approx.join(exact, "vec_id").agg(
        F.lit(k).alias("k"),
        F.lit(nprobe).alias("nprobe"),
        F.round(F.count("*") / F.lit(float(k)), 6).alias("recall"),
    )


def _pack_queries(embeddings: DataFrame, query_ids: list[int]) -> DataFrame:
    """Collapse the Q query vectors into ONE row
    {qs: array<struct<qid, nq, cv:array<double>>>} sorted by qid —
    the same 1-row broadcast shape as `_pack_centroids`. Plan size is
    O(1) in Q (one aggregate subtree), never Q x d literal nodes, so
    Catalyst analysis and codegen stay fast at the Q ~ 10^3 scale an
    eval-retrieval batch actually runs. nq = ||q|| is folded in here so
    scoring needs no second pass."""
    per = embeddings.filter(
        F.col("vec_id").isin([int(q) for q in query_ids])
    ).select(
        F.col("vec_id").alias("qid"),
        F.sqrt(_sq_norm(_vec())).alias("nq"),
        _vec().alias("qv"),
    )
    return per.agg(F.array_sort(F.collect_list(F.struct("qid", "nq", "qv"))).alias("qs"))


def knn_join(embeddings: DataFrame, query_ids: list[int], k: int = 10,
             salt_buckets: int = 16) -> DataFrame:
    """Batch k-NN join: exact cosine top-k against the corpus for EVERY
    query in a small id set at once -> (qid, vec_id, cosine, rank).

    One corpus pass regardless of |Q|: the Q query vectors are packed
    into a ONE-row DataFrame (array<struct<qid,nq,qv>>, `_pack_queries`)
    and attached via the same 1-row broadcast crossJoin the codebook
    path uses — plan size O(1) in Q, vs the previous literal-inlined
    form whose Q x d `lit` nodes blew up Catalyst analysis and fell out
    of codegen past ~10^5 expression nodes. Per-row scoring is a single
    codegen'd projection + a Q-fold explode.
    Top-k is TWO-PHASE to kill the per-query single-reducer hotspot:
    a first window partitioned by (qid, salt) keeps k rows per salt
    bucket — Q x salt_buckets parallel reducers — then the exact final
    rank runs over only Q x salt_buckets x k survivors (provably a
    superset of the true top-k). This is the shape an eval-retrieval job
    (thousands of queries vs a 100-TB corpus) needs, where a
    Window.partitionBy(qid) alone would funnel the whole corpus through
    |Q| reducers.
    """
    packed = _pack_queries(embeddings, query_ids)
    embeddings = _respread(embeddings)
    v = _vec()
    per_query = F.transform(
        F.col("qs"),
        lambda q: F.struct(
            q["qid"].alias("qid"),
            F.round(_dot(v, q["qv"]) / (F.sqrt(_sq_norm(v)) * q["nq"]), 6).alias(
                "cosine"
            ),
        ),
    )
    scored = _with_cents(embeddings, packed).select(
        "vec_id",
        F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(salt_buckets)).alias(
            "_salt"
        ),
        F.explode(per_query).alias("s"),
    ).select(F.col("s.qid").alias("qid"), "vec_id", F.col("s.cosine").alias("cosine"), "_salt")
    w_local = Window.partitionBy("qid", "_salt").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    survivors = (
        scored.withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w_final = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        survivors.select("qid", "vec_id", "cosine", F.row_number().over(w_final).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def lsh_sign_buckets(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """Sign-projection LSH: bucket = sign bits of the first n dims.

    (With learned/random planes you'd dot against broadcast plane vectors;
    axis-aligned planes keep the oracle SQL-expressible while exercising
    the identical plan shape.) Returns bucket occupancy — the IVF-style
    candidate-list sizes."""
    bits = [
        F.when(F.element_at("embedding", i + 1) > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_planes)
    ]
    return (
        embeddings.select(F.concat(*bits).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )
