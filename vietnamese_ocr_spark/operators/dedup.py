"""Deduplication operators: exact, MinHash/LSH, SimHash, n-gram Jaccard.

Design for 10^12 rows:
  * exact:   one hash-shuffle on a 128-bit digest — never on raw text;
  * minhash: signatures are per-row projections (no shuffle); banding
    groups rows by signature band so candidate pairs emerge from a
    groupBy instead of an O(n^2) cross join;
  * simhash: per-(row,bit) partial aggregation commutes, so the shuffle
    carries (doc_id, bit, weight) partials only;
  * jaccard: candidate pairs from the shared-shingle join with hot
    shingles frequency-capped first, never an all-pairs cross join.

Cross-engine determinism: every hash is rooted in md5 (identical in
Spark & DuckDB) — either directly, or as the 28-bit base of the
universal affine / rolling polynomial families (constants below, which
the DuckDB oracles import) — never the engines' internal hash()
(which differ).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked
from .arrow_batch import BINARY_LIST, arrow_column, column, string_column, take


def _words():
    return F.split(F.col("text"), " ")


def _spread(docs: DataFrame) -> DataFrame:
    """Re-spread a narrow input across the cluster before CPU-heavy
    projections. A real 100-TB table arrives in thousands of splits and
    this is a no-op; the guard only fires when the source has fewer
    splits than the configured parallelism (e.g. a single test parquet
    file, which would otherwise run the whole shingle transform on one
    core — measured 9.6s single-core vs 0.4s spread at sf0.1)."""
    if docs.isStreaming:  # micro-batches are already split by the
        return docs       # source's trigger policy
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # inputFiles() (not df.rdd.getNumPartitions(), which forces a
    # DataFrame->RDD conversion per call and is unavailable under Spark
    # Connect) approximates the split count: a real 100-TB table arrives
    # in thousands of files and skips the repartition entirely. Derived
    # in-memory frames report no files and take the (cheap at their
    # size) repartition.
    try:
        if len(docs.inputFiles()) >= n:
            return docs
    except Exception:
        pass  # non-file-backed plan — fall through to the respread
    # Non-file-backed (derived) frames are ALWAYS respread. A partition-
    # COUNT probe (rdd.getNumPartitions() >= n -> skip) was evaluated in
    # round 4 and measured 25% SLOWER on dedup_minhash_pipeline at sf0.1
    # (5.3-6.0s vs 4.1-4.6s steady-state): derived frames mid-pipeline
    # (semi-joined candidate sets, banded buckets) have enough partitions
    # but badly skewed occupancy, and the CPU-heavy shingle/signature
    # projections downstream stall on the fat ones. Count does not imply
    # balance; the round-robin respread is the cheaper end of that trade.
    return docs.repartition(n)


def add_shingles(docs: DataFrame, n: int = 3, out: str = "shingles") -> DataFrame:
    """Project a word-`n`-gram shingle column ([] when < n words).

    The words array is materialized in its own projection first: inlining
    `split(text)` into the per-shingle lambda makes codegen re-split the
    text for every element_at (measured 14x slower at sf0.1 — higher-order
    functions defeat common-subexpression elimination).
    """
    w = docs.select("*", _words().alias("_words"))
    size = F.size("_words")
    shingle_col = F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - n + 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("_words"), (i + k).cast("int")) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return w.select("*", shingle_col.alias(out)).drop("_words")


def shingle_digest_docs(docs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """(doc_id, text) -> (doc_id, sarr: array<binary>) where sarr is the
    doc's DISTINCT word-shingle set as 16-byte md5 digests (first-seen
    order — deterministic).

    Round-7: computed in the Python worker (guide §4.2) — the Column
    form (add_shingles transform + array_distinct + per-element md5
    transform) is a chain of CodegenFallback higher-order functions,
    measured 5.2s at sf1.0 vs ~0.5s here. Digests are identical:
    md5 of the same UTF-8 shingle bytes == unhex(md5(s)); docs with
    fewer than shingle_n words (or NULL text) get an empty set, exactly
    like add_shingles' otherwise([]) leg."""
    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, sarr array<binary>"

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        md5 = hashlib.md5
        for batch in batches:
            arrs = []
            for text in batch.column("text").to_pylist():
                if text is None:
                    arrs.append([])
                    continue
                words = text.split(" ")
                if len(words) < shingle_n:
                    arrs.append([])
                    continue
                seen = dict.fromkeys(
                    " ".join(words[i : i + shingle_n])
                    for i in range(len(words) - shingle_n + 1)
                )
                arrs.append([md5(s.encode()).digest() for s in seen])
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), column(arrs, BINARY_LIST)], names=["doc_id", "sarr"]
            )

    return _spread(docs).select("doc_id", "text").mapInArrow(gen, schema)


def exact_dedup_stats(df: DataFrame, col: str) -> DataFrame:
    """Total/unique/dup counts over a md5 digest of `col` (hash-groupBy)."""
    digests = df.select(F.md5(F.col(col)).alias("h"))
    return digests.agg(
        F.count("*").alias("n_total"),
        F.count_distinct("h").alias("n_unique"),
        (F.count("*") - F.count_distinct("h")).alias("n_dupes"),
    )


def minhash_signatures(docs: DataFrame, k: int = 4, shingle_n: int = 3) -> DataFrame:
    """k MinHash values per doc: min over shingles of md5(perm_id:shingle).

    A pure projection — each row computes its signature independently, so
    this scales linearly with no shuffle at all (the _spread guard only
    fires on under-split test inputs).

    Round-7: computed inside mapInArrow (guide §4.2 — Catalyst's
    higher-order transform/array_min chain is CodegenFallback, i.e.
    interpreted per element; hashing the shingles in the Python worker
    with hashlib is several times faster and the boundary carries only
    (doc_id, text)). Values are bit-identical: md5 hex of the same
    UTF-8 bytes, lexicographic min == array_min on strings, and the
    <shingle_n-words fallback hashes "j:text" exactly as before.
    """
    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = ", ".join([f"doc_id {id_type}"] + [f"mh{j} string" for j in range(k)])
    names = ["doc_id"] + [f"mh{j}" for j in range(k)]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        md5 = hashlib.md5
        for batch in batches:
            cols: list[list] = [[] for _ in range(k)]
            for text in batch.column("text").to_pylist():
                if text is None:
                    for j in range(k):
                        cols[j].append(None)
                    continue
                words = text.split(" ")
                if len(words) >= shingle_n:
                    shingles = [
                        " ".join(words[i : i + shingle_n])
                        for i in range(len(words) - shingle_n + 1)
                    ]
                    for j in range(k):
                        p = f"{j}:".encode()
                        cols[j].append(
                            min(md5(p + s.encode()).hexdigest() for s in shingles)
                        )
                else:
                    for j in range(k):
                        cols[j].append(md5(f"{j}:{text}".encode()).hexdigest())
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id")] + [string_column(c) for c in cols], names=names
            )

    return _spread(docs).select("doc_id", "text").mapInArrow(gen, schema)


def minhash_band_buckets(docs: DataFrame, k: int = 4, band_chars: int = 2) -> DataFrame:
    """LSH banding: bucket id = truncated concat of the signature; docs
    sharing a bucket are near-dup candidates. Returns bucket occupancy."""
    sig = minhash_signatures(docs, k)
    bucket = F.concat_ws("", *[F.substring(f"mh{j}", 1, band_chars) for j in range(k)])
    return (
        sig.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Per-doc SimHash over word hashes (md5-derived 32-bit ints).

    Round-7 rewrite: the whole reduction runs INSIDE one codegen'd
    projection — the word-hash array is materialized once per row, then
    each bit's ±1 sum is an `aggregate()` fold over it, and the final
    simhash OR-combines the per-bit signs. The previous form exploded
    every (word, bit) pair to rows (16x fan-out, ~40M rows at sf1.0)
    and paid two aggregation shuffles; this form shuffles NOTHING (the
    per-doc sums need no cross-row combine — SimHash is per-document).
    Values are identical: the fold visits every word occurrence exactly
    like the exploded sum did, and s_b = 2*c_b - n where c_b counts
    words with bit b set.
    """
    # Round-7 second pass: the per-bit aggregate() folds were still
    # interpreted (CodegenFallback) at bits x words ops per doc; the
    # same reduction runs vectorized in NumPy inside mapInArrow
    # (guide §4.2). Word hash = first 32 bits of md5 big-endian ==
    # conv(substring(md5_hex, 1, 8), 16, 10); bit b of the simhash is
    # set iff 2*(#words with bit b set) > #words — identical values.
    # explode() dropped docs with NULL text; the None-skip keeps that
    # exact contract.
    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, simhash bigint"

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        md5 = hashlib.md5
        weights = (1 << np.arange(bits, dtype=np.int64))
        for batch in batches:
            rows = []
            sims = []
            for row, text in enumerate(batch.column("text").to_pylist()):
                if text is None:
                    continue
                words = text.split(" ")
                wh = np.fromiter(
                    (
                        int.from_bytes(md5(w.encode()).digest()[:4], "big")
                        for w in words
                    ),
                    dtype=np.int64,
                    count=len(words),
                )
                c = ((wh[:, None] >> np.arange(bits)) & 1).sum(axis=0)
                rows.append(row)
                sims.append(((2 * c > len(words)) * weights).sum())
            yield pa.RecordBatch.from_arrays(
                [take(batch.column("doc_id"), rows), arrow_column(np.array(sims, np.int64))],
                names=["doc_id", "simhash"],
            )

    return _spread(docs).select("doc_id", "text").mapInArrow(gen, schema)


def jaccard_candidates(
    docs: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """n-gram Jaccard over shared-shingle candidates, hot shingles capped.

    Candidate pairs come from the per-shingle self-join, so a boilerplate
    shingle appearing in d documents contributes O(d^2) pairs — the classic
    scale-killer on real corpora. `max_shingle_df` applies the standard
    frequency cap FIRST: shingles with document frequency > max_shingle_df
    are dropped from candidate generation (an anti-join on the tiny hot-
    shingle set). A dropped shingle shrinks the measured intersection only
    for pairs that were only connected by boilerplate — exactly the pairs
    near-dup dedup wants to ignore. Per-doc sizes are computed BEFORE the
    cap so the Jaccard denominator stays exact for surviving pairs whose
    intersection contains no hot shingle.

    The threshold is applied to the UNROUNDED ratio (matching the SQL
    oracle); rounding to 6 digits happens only on the output column.
    """
    # Round-7 restructure of the shingle-set build:
    #   * the old (doc_id, s).distinct() exchange is GONE — shingle
    #     dedup is per-document, so array_distinct inside the projection
    #     computes the identical set with zero shuffle (guide §2.4:
    #     remove shuffles the data's structure makes unnecessary);
    #   * shingle IDENTITY travels as unhex(md5(s)) — 16 fixed bytes
    #     instead of the raw 3-word string — through the df cap and the
    #     self-join (guide §2.3 "shuffle keys instead of payloads";
    #     md5-as-identity is this module's exact-dedup convention, see
    #     exact_dedup_stats). Nothing downstream needs the text.
    #   * per-doc sizes are size(sarr) — a projection, not a groupBy.
    sh_docs = persist_tracked(shingle_digest_docs(docs, shingle_n))
    # persist: four subtrees consume the shingle sets (sizes, hot-shingle
    # df, both join sides); without it Spark re-runs the shingle
    # transform 4x. Tracked for release_persisted() so long sessions
    # don't accumulate cached blocks across repeated calls.
    sh = sh_docs.select("doc_id", F.explode("sarr").alias("s"))
    sizes = sh_docs.select("doc_id", F.size("sarr").alias("sz"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("s")
        )
        sh = sh.join(hot, "s", "left_anti")
    a = sh.select(F.col("doc_id").alias("da"), "s")
    b = sh.select(F.col("doc_id").alias("db"), "s")
    # The pair count is a HUGE-cardinality aggregation (the candidate
    # volume is sum over shingles of df^2 — measured 114M distinct pairs
    # at sf1.0). A plain groupBy would build the partial-agg hash tables
    # BEFORE the exchange: ~4M groups per map task, far over the
    # per-task execution-memory share, so every task spills (guide §5).
    # Repartitioning by the pair key first moves the raw narrow rows
    # (3 longs) through the exchange and builds each hash table exactly
    # once, post-shuffle, at 4x partition count so per-task state stays
    # small (guide §2.5 "more partitions, smaller per-task state").
    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    joined = a.join(b, "s").filter(F.col("da") < F.col("db"))
    # When doc ids fit 31 bits (they are sequential row ids in every
    # corpus this engine ingests), the pair key packs into ONE long —
    # measured 7.3s vs 10.7s at sf1.0 for the repartition+agg leg: half
    # the grouping-key bytes through the exchange and a single-word hash
    # key. The range probe rides the (tiny, already-persisted) sh table;
    # out-of-range ids take the exact two-column path instead.
    bounds = sh.agg(F.min("doc_id"), F.max("doc_id")).first()
    if bounds[0] is not None and bounds[0] >= 0 and bounds[1] < (1 << 31):
        pk = F.shiftleft(F.col("da"), 32) + F.col("db")
        inter = (
            joined.select(pk.alias("pk"))
            .repartition(4 * n_parts, "pk")
            .groupBy("pk")
            .agg(F.count("*").alias("inter"))
            .select(
                F.shiftright("pk", 32).alias("da"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("db"),
                "inter",
            )
        )
    else:
        inter = (
            joined.select("da", "db")
            .repartition(4 * n_parts, "da", "db")
            .groupBy("da", "db")
            .agg(F.count("*").alias("inter"))
        )
    sza = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    ratio = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    # sizes is per-doc (tiny next to the pair table): broadcast it
    # explicitly so the attach can never degrade to a sort-merge join
    # dragging the pair table through two more sorts when size estimates
    # go stale at larger SFs (guide §3.1).
    return (
        inter.join(F.broadcast(sza), "da")
        .join(F.broadcast(szb), "db")
        .filter(ratio >= threshold)
        .select("da", "db", F.round(ratio, 6).alias("jaccard"))
    )


# Universal affine hash family for the fast MinHash construction:
# mh_j(s) = (A[j] * H(s) + B[j]) mod P with H = 28 bits of md5 — ONE
# digest per shingle instead of one per (permutation, shingle). Same
# family Spark ML's MinHashLSH uses; constants are fixed so Spark and
# the DuckDB oracle (which imports these lists) compute bit-identical
# signatures. A[j] < 2^29 and H < 2^28 keep A*H+B well inside int64.
MH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)
MH_A = [
    15485863, 32452843, 49979687, 67867967, 86028121, 104395301,
    122949823, 141650939, 160481183, 179424673, 198491317, 217645177,
    236887691, 256203161, 275604541, 295075147,
]
MH_B = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]


# Rolling shingle-hash multipliers: shingle hash = (w0*MH_P2 + w1*MH_P1
# + w2) mod MH_PRIME over the three word hashes — the polynomial rolling
# form (Karp-Rabin / winnowing), so each WORD is md5'd once and shingle
# hashes are pure arithmetic: no 3-word strings are ever built and no
# per-shingle digest runs. MH_P2 = MH_P1^2 mod MH_PRIME keeps the unroll
# consistent with a left-fold h = (h*MH_P1 + w) mod P.
MH_P1 = 1_000_003
MH_P2 = (MH_P1 * MH_P1) % MH_PRIME


def minhash_signatures_fast(
    docs: DataFrame, k: int = 8, shingle_n: int = 3
) -> DataFrame:
    """k MinHash values per doc via the universal affine family over
    ROLLING shingle hashes — one md5 per WORD (not per shingle, and
    never k per shingle like minhash_signatures, which stays as the
    didactic exact-mirror form), then per-shingle polynomial combine
    and k multiply-add-mod permutations. Docs with < shingle_n words
    fall back to the full-text hash. Map-only: zero shuffle.

    Round-7: the arithmetic runs vectorized in NumPy inside mapInArrow
    (guide §4.2) — the previous Column-algebra form was a chain of
    interpreted higher-order functions (CodegenFallback) costing ~2ms
    per doc; int64 never overflows (words are 28-bit, multipliers
    < 2^29, so every product stays under 2^60) and the mod/min algebra
    is identical, so signatures are bit-identical (oracle-pinned)."""
    if k > len(MH_A):
        raise ValueError(f"k={k} exceeds the {len(MH_A)} fixed permutations")
    if shingle_n != 3:
        raise ValueError("rolling combine is unrolled for shingle_n=3")
    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = ", ".join([f"doc_id {id_type}"] + [f"mh{j} bigint" for j in range(k)])
    names = ["doc_id"] + [f"mh{j}" for j in range(k)]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        md5 = hashlib.md5
        A = np.array(MH_A[:k], dtype=np.int64)[:, None]
        B = np.array(MH_B[:k], dtype=np.int64)[:, None]
        for batch in batches:
            texts = batch.column("text").to_pylist()
            sigs = np.zeros((k, len(texts)), np.int64)
            valid = np.ones(len(texts), bool)  # NULL text -> NULL signature
            for row, text in enumerate(texts):
                if text is None:
                    valid[row] = False
                    continue
                words = text.split(" ")
                if len(words) >= 3:
                    wh = np.fromiter(
                        (
                            int.from_bytes(md5(w.encode()).digest()[:4], "big") >> 4
                            for w in words
                        ),
                        dtype=np.int64,
                        count=len(words),
                    )
                    hs = (wh[:-2] * MH_P2 + wh[1:-1] * MH_P1 + wh[2:]) % MH_PRIME
                    mins = ((A * hs[None, :] + B) % MH_PRIME).min(axis=1)
                else:
                    ht = int.from_bytes(md5(text.encode()).digest()[:4], "big") >> 4
                    mins = (A[:, 0] * ht + B[:, 0]) % MH_PRIME
                sigs[:, row] = mins
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id")] + [arrow_column(sig, valid) for sig in sigs],
                names=names,
            )

    return _spread(docs).select("doc_id", "text").mapInArrow(gen, schema)


def minhash_candidate_pairs(
    docs: DataFrame,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1_000,
) -> DataFrame:
    """Candidate pairs from MinHash LSH banding: k fast signatures in
    k/rows_per_band bands; a band key matches only if ALL its rows
    match (AND inside a band, OR across bands) — the standard (b, r)
    construction with threshold ~ (1/b)^(1/r). r=2 keeps low-Jaccard
    noise pairs out of candidate generation (measured at sf0.1: r=1
    emitted 82k candidates, r=2 emits only the real near-dup
    neighborhoods), which is what keeps the verify stage proportional
    to the true duplicate mass at 100 TB.

    This is the pair-emission step `minhash_band_buckets` (occupancy
    only) stops short of. Scale shape: signatures are zero-shuffle
    projections; the band self-join groups per (band, key) so pairs
    emerge per-bucket, never all-pairs; buckets larger than
    `max_bucket_size` are dropped first (the boilerplate guard — a
    degenerate key shared by d docs would otherwise emit O(d^2) pairs),
    mirroring jaccard_candidates' document-frequency cap."""
    if k % rows_per_band:
        raise ValueError("k must be a multiple of rows_per_band")
    sig = minhash_signatures_fast(docs, k, shingle_n)
    n_bands = k // rows_per_band
    keys = [
        F.concat_ws(
            ":",
            *[
                F.col(f"mh{j * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        for j in range(n_bands)
    ]
    bands = persist_tracked(
        sig.select("doc_id", F.posexplode(F.array(*keys)).alias("band", "h"))
    )  # consumed by the hot-bucket scan and both join sides
    if max_bucket_size is not None:
        hot = (
            bands.groupBy("band", "h")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > max_bucket_size)
            .select("band", "h")
        )
        bands = bands.join(hot, ["band", "h"], "left_anti")
    a = bands.select(F.col("doc_id").alias("da"), "band", "h")
    b = bands.select(F.col("doc_id").alias("db"), "band", "h")
    return (
        a.join(b, ["band", "h"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )


def verify_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate pairs —
    the verification pass after LSH banding. Pair-centric join: each
    candidate pair pulls its two shingle sets, so cost scales with
    |candidates| x shingles-per-doc, never corpus^2. Shingle sets are
    first shrunk to docs that appear in any pair (semi-join); per-doc
    sizes computed on the full sets of surviving docs, so the Jaccard
    denominator is exact."""
    cand_docs = (
        pairs.select(F.col("da").alias("doc_id"))
        .union(pairs.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    # semi-join BEFORE shingling: only candidate docs pay the shingle
    # transform. At 100 TB candidates are a small fraction of the
    # corpus, so this is the difference between re-scanning everything
    # and touching just the suspects.
    #
    # Round-7 restructure: each pair pulls its two docs' DISTINCT
    # shingle-digest ARRAYS (two |pairs|-row joins) and the exact
    # intersection is size(array_intersect(...)) inside one projection —
    # no shingle explode, no (pair x shingle) join, no groupBy. The
    # arrays are md5 digests (16 bytes/shingle), so a pair row carries
    # ~2 x set-size x 16B, and |pairs| after banding is the true
    # near-dup mass, tiny next to the corpus.
    sh_docs = persist_tracked(
        shingle_digest_docs(docs.join(cand_docs, "doc_id", "left_semi"), shingle_n)
    )  # consumed by both pair sides
    a = sh_docs.select(F.col("doc_id").alias("da"), F.col("sarr").alias("_sa"))
    b = sh_docs.select(F.col("doc_id").alias("db"), F.col("sarr").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    ratio = inter / (F.size("_sa") + F.size("_sb") - inter)
    return (
        pairs.join(a, "da")
        .join(b, "db")
        # inter > 0 mirrors the old inner join on shared shingles: a
        # pair with an empty intersection never surfaced there, even at
        # threshold 0.0
        .filter((inter > 0) & (ratio >= threshold))
        .select("da", "db", F.round(ratio, 6).alias("jaccard"))
    )


def minhash_dedup_pipeline(
    docs: DataFrame,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_bucket_size: int | None = 1_000,
) -> DataFrame:
    """The composed near-dup pass as a 100-TB dedup actually runs:
    MinHash signatures -> (b, r) LSH bands -> candidate pairs ->
    exact-Jaccard verification -> connected components. Returns
    (doc_id, component) for every doc in a verified duplicate cluster.
    Equals jaccard_candidates->connected_components whenever banding
    recall is 1.0 (property-tested on the fixture corpora, where dup
    pairs sit at J >= 0.8 — the regime (b=4, r=2) is steep over)."""
    from .components import connected_components

    # pairs are tiny (the true near-dup mass) but their band self-join
    # is consumed three times downstream (cand_docs, the verify join,
    # the components edge list) — persist so it runs once
    pairs = persist_tracked(
        minhash_candidate_pairs(docs, k, rows_per_band, shingle_n, max_bucket_size)
    )
    verified = verify_jaccard_pairs(docs, pairs, shingle_n, threshold)
    return connected_components(verified)
