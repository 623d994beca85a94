"""Text-analysis operators for large-scale training-data pipelines.

Column expressions (JVM-side, whole-stage codegen) wherever Catalyst can
say it. Two stages run Python over Arrow batches in mapInArrow instead
(never per-row UDFs): dom_main_content_stage, because a DOM tree is not a
Column expression, and the bigram pass of lm_bigram_score, because the
equivalent higher-order transform is interpreted per element. Each
operator has a 1:1 ANSI-SQL oracle in plans/queries.py checked by DuckDB.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked
from .arrow_batch import string_column, take


def word_count(text: Column) -> Column:
    return F.size(F.split(text, " "))


def token_count_bpe_ish(text: Column) -> Column:
    """Regex-tokenizer count: alpha runs, digit runs, other symbols."""
    return F.regexp_count(text, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))


def avg_word_len(text: Column) -> Column:
    nw = word_count(text)
    return F.round((F.length(text) - nw + 1) / nw, 6)


def char_ratio(text: Column, char: str) -> Column:
    """Frequency of one character — the unit of n-gram language ID."""
    return F.round(
        (F.length(text) - F.length(F.replace(text, F.lit(char), F.lit("")))) / F.length(text), 6
    )


def quality_stats(docs: DataFrame) -> DataFrame:
    """Length / word-shape / ratio quality signals + a keep/drop flag."""
    nw = word_count(F.col("text"))
    awl = avg_word_len(F.col("text"))
    return docs.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        awl.alias("avg_word_len"),
        char_ratio(F.col("text"), " ").alias("space_ratio"),
        F.when((nw >= 20) & (awl >= 2.0) & (awl <= 8.0), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("quality_keep"),
    )


# PII patterns restricted to the regex subset where Java (Spark) and RE2
# (DuckDB) agree: no backrefs, no lookaround, explicit classes only.
_PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9][0-9()\-\. ]{7,}[0-9]"),
]


def redact_pii(text: Column) -> Column:
    """Scrub emails / IPv4s / phone-shaped runs to typed placeholders —
    the standard pre-training privacy pass, as a chained JVM
    regexp_replace (no UDF). Order matters: emails first so their digits
    don't half-match the phone pattern."""
    out = text
    for name, pat in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name}>")
    return out


def pii_stats(docs: DataFrame) -> DataFrame:
    """Per-doc PII hit counts + the redacted text."""
    return docs.select(
        "doc_id",
        *[
            F.regexp_count("text", F.lit(pat)).cast("long").alias(f"n_{name}")
            for name, pat in _PII_PATTERNS
        ],
        redact_pii(F.col("text")).alias("redacted"),
    )


def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """Gopher-style repetition filter: fraction of duplicate word
    n-grams per document (Rae et al. 2021, "Scaling Language Models" —
    the public repetition heuristics used to drop looping/boilerplate
    docs from training corpora). dup_ratio = 1 - distinct/total over the
    doc's n-gram multiset; docs with < n words score 0.

    Pure per-row Column math (shingle transform + array_distinct) — no
    shuffle, no UDF; at 100 TB this is a single codegen'd scan."""
    from .dedup import add_shingles

    sh = F.col("_sh")
    total = F.size(sh)
    dup_ratio = F.when(
        total > 0,
        F.round((total - F.size(F.array_distinct(sh))) / total, 6),
    ).otherwise(F.lit(0.0))
    return (
        add_shingles(docs, n, out="_sh")
        .select(
            "doc_id",
            total.cast("long").alias("n_ngrams"),
            dup_ratio.alias("dup_ratio"),
            # Gopher drops docs with >0.2 duplicate 3-gram mass
            F.when(dup_ratio <= 0.2, F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("repetition_keep"),
        )
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Character-frequency heuristic language ID (n-gram-lite).

    Real corpora would score against per-language char/bigram profiles;
    the synthetic corpus is English-ish words, so the heuristic thresholds
    on 'a'-frequency + a marker word — the *shape* (pure projection,
    groupBy rollup) is what scales."""
    guess = (
        F.when(F.instr(F.col("text"), "spark") > 0, F.lit("tech"))
        .when(char_ratio(F.col("text"), "a") > 0.08, F.lit("latin-high-a"))
        .otherwise(F.lit("other"))
    )
    return (
        docs.select("lang", guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, window: int = 5) -> DataFrame:
    """Test-set decontamination: drop training docs whose winnowing
    fingerprint collides with any benchmark doc's fingerprint — the
    standard eval-leakage guard before pre-training. The benchmark side
    is tiny (eval suites are small), so the anti-join broadcasts; the
    corpus is fingerprinted in one projection pass."""
    bench_fps = fingerprint(benchmark, window).select("fp").distinct()
    fps = fingerprint(docs, window)
    clean_ids = fps.join(F.broadcast(bench_fps), "fp", "left_anti").select("doc_id")
    return docs.join(clean_ids, "doc_id")


def fingerprint(docs: DataFrame, window: int = 5) -> DataFrame:
    """Winnowing-style document fingerprint: min hash over sliding
    word-window shingles (rolling-hash analog, built-ins only);
    docs shorter than the window fall back to md5(text)."""
    from .dedup import add_shingles

    sh = add_shingles(docs, window)
    return sh.select(
        "doc_id",
        F.coalesce(
            F.array_min(F.transform("shingles", lambda s: F.md5(s))),
            F.md5(F.col("text")),
        ).alias("fp"),
    )


def dom_main_content_stage(docs: DataFrame) -> DataFrame:
    """Tree-aware main-content extraction (functions/dom.py): parse each
    doc's HTML into an element tree, drop chrome SUBTREES (a <nav>
    nested inside a kept <div> vanishes — the case the flat
    densitometric extractor is structurally blind to), score block
    elements by own-text length and subtree link density.

    A DOM cannot be expressed in Catalyst expressions, so this is the
    sanctioned Arrow-batched mapInArrow escape hatch (never per-row
    Python UDFs). Prefer the JVM-side extract_main_content for flat
    markup; reach for this stage when nesting matters. NULL text gives
    NULL main_text."""

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..functions.dom import dom_main_content

        for batch in batches:
            main = [None if t is None else dom_main_content(t)
                    for t in batch.column("text").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), string_column(main)], names=["doc_id", "main_text"]
            )

    return docs.select("doc_id", "text").mapInArrow(
        stage, "doc_id string, main_text string"
    )


def lm_bigram_score(docs: DataFrame) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
    score each document by the mean log-probability of its word bigrams
    under an add-1-smoothed bigram LM trained on the corpus itself —
    low-probability documents are gibberish/boilerplate candidates the
    perplexity gate drops before pre-training.

    Shape at 100 TB: two corpus-wide count aggregations (unigrams,
    bigrams — map-side combined), one broadcastable 1-row vocab size,
    then per-doc terms join the count tables ON THEIR KEYS (shuffle
    joins on word/bigram, never a cross product) and reduce per doc.

    Round-7 third pass (same moves as the dedup family, guide
    §2.4/§4.2): the input is re-spread before the CPU-heavy
    projections (a single-row-group bench table otherwise serializes
    them on one core; no-op on real many-split tables); the bigram
    occurrence rows come from one Python pass in mapInArrow instead
    of the interpreted higher-order add_shingles transform (identical
    strings: ws[i] + " " + ws[i+1] over the same single-space split,
    docs with <2 words or NULL text contribute nothing, exactly like
    explode over the old when/otherwise([])); and the bigram table is
    persisted because two subtrees consume it (the corpus bigram
    counts and the per-doc terms join) — it was recomputed end to end
    for each before. Outputs are unchanged (oracle-pinned).

    The persisted bigram frame outlives this call: callers must run
    `caching.release_persisted()` once they have consumed the result,
    or a long session accumulates its cached blocks."""
    from .dedup import _spread

    docs = _spread(docs)
    w = docs.select("doc_id", F.split("text", " ").alias("ws"))
    uni = (
        w.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    vrow = uni.agg(F.count("*").alias("v"))  # vocab size (1 row, broadcast)

    id_type = docs.schema["doc_id"].dataType.simpleString()
    bi_schema = f"doc_id {id_type}, s string, w1 string"

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list[int] = []
            ss: list[str] = []
            w1s: list[str] = []
            for row, text in enumerate(batch.column("text").to_pylist()):
                if text is None:
                    continue
                ws = text.split(" ")
                rows += [row] * (len(ws) - 1)
                ss += map(" ".join, zip(ws, ws[1:]))
                w1s += ws[:-1]
            yield pa.RecordBatch.from_arrays(
                [take(batch.column("doc_id"), rows), string_column(ss), string_column(w1s)],
                names=["doc_id", "s", "w1"],
            )

    bi = persist_tracked(docs.select("doc_id", "text").mapInArrow(gen, bi_schema))
    bc = bi.groupBy("s").agg(F.count("*").alias("c12"))
    terms = (
        bi.join(bc, "s")
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vrow))
        .select(
            "doc_id",
            F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logp"),
    )


def passage_dedup(docs: DataFrame, chunk_words: int = 10) -> DataFrame:
    """Repeated-passage removal, exact form (the C4/RefinedWeb
    pretraining-pipeline step: drop every later occurrence of a passage
    seen anywhere in the corpus; first occurrence by (doc_id, position)
    wins). Passages are consecutive `chunk_words`-word windows — the
    fixed-width stand-in for paragraph splits on a corpus without
    newlines.

    Scale shape: chunks are built INSIDE one Column expression
    (split -> sequence -> slice -> concat_ws, then a posexplode) — no
    word-level shuffle at all; the only exchanges are the window keyed
    on the passage TEXT (at 100 TB you would key on md5(chunk) instead
    to keep shuffle rows small — here the text itself is the value the
    oracle compares) and the final per-doc reduce. The output is
    scalar-only: (doc_id, n_chunks, n_kept, retained_md5) where
    retained_md5 hashes the kept passages in document order."""
    from pyspark.sql import Window

    k = int(chunk_words)
    chunks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) "
                f"/ {k}.0) as int) - 1), "
                f"i -> concat_ws(' ', slice(split(text, ' '), i*{k}+1, {k})))"
            )
        ).alias("chunk_id", "chunk_text"),
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_id")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return (
        ranked.withColumn(
            "kept", F.when(F.col("rn") == 1, F.col("chunk_text"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("int")
            .alias("n_kept"),
            F.md5(
                F.expr(
                    "concat_ws(' ', transform(filter(array_sort("
                    "collect_list(struct(chunk_id, kept))), "
                    "x -> x.kept is not null), x -> x.kept))"
                )
            ).alias("retained_md5"),
        )
    )
