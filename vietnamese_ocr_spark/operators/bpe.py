"""BPE tokenizer training and segmentation (Sennrich et al., "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016).

The canonical pre-training preprocessing step the reference never needed
(its vocab is fixed characters, src/utils/vocab.py) but any 100-TB text
pipeline does. Shape (the one `bpe_train`):

  * the corpus collapses ONCE, distributed, into a (word, freq) table —
    the only pass that touches the documents; after that, work scales
    with distinct words (typically 10^6-10^8 rows at web scale, not
    10^12 documents), optionally capped to the top-N by frequency;
  * the merge loop runs driver-side over that table with incremental
    pair-count updates and a lazy max-heap argmax (deterministic
    tie-break: count desc, then pair lexicographic) — the standard
    industrial shape (HF tokenizers, SentencePiece: distributed count,
    single-node merge loop);
  * segmentation (`bpe_segment`) applies the learned merges by rank in
    an Arrow-batched worker stage.

Iterative argmax-per-round is not expressible as one SQL query, so the
trainer is verified against a single-process full-recount mirror
(`bpe_train_py`) instead of a DuckDB oracle — the same contract as the
streaming state operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .arrow_batch import map_rows

END = "</w>"  # end-of-word marker, standard BPE


def word_frequencies(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (word, freq): the one corpus-wide pass."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_vocab(symbols_table: DataFrame) -> DataFrame:
    """Final subword vocabulary: token -> corpus frequency."""
    return (
        symbols_table.select("freq", F.explode("symbols").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("freq"))
    )


def _train_from_word_freqs(
    freqs: dict[str, int], num_merges: int, min_pair_freq: int
) -> tuple[list[tuple[str, str]], dict[str, tuple[list[str], int]]]:
    """Fast incremental BPE over a (word -> freq) dict: pair counts are
    updated only for words touched by each merge (Sennrich's learn_bpe
    indexing trick) and the per-round argmax is a lazy max-heap — stale
    entries are skipped on pop, and since every live pair always has an
    entry carrying its exact current count, the first valid pop IS the
    true (count desc, pair asc) argmax. ~O(total updates x log) instead
    of bpe_train_py's O(num_merges x all words) full recount; identical
    merge list by construction (same greedy left-to-right re-merge, same
    tie-break)."""
    import heapq
    from collections import Counter, defaultdict

    words: dict[str, tuple[list[str], int]] = {
        w: (list(w) + [END], c) for w, c in freqs.items()
    }
    pair_counts: Counter = Counter()
    where: defaultdict[tuple[str, str], set] = defaultdict(set)
    for w, (syms, c) in words.items():
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += c
            where[p].add(w)
    heap = [(-n, a, b) for (a, b), n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges and heap:
        negn, a, b = heapq.heappop(heap)
        if pair_counts.get((a, b)) != -negn:
            continue  # stale entry
        if -negn < min_pair_freq:
            break
        merges.append((a, b))
        touched: set[tuple[str, str]] = set()
        for w in list(where.get((a, b), ())):
            syms, c = words[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= c
                touched.add(p)
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                    where.pop(p, None)
                else:
                    where[p].discard(w)
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[w] = (out, c)
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pair_counts[p] += c
                touched.add(p)
                where[p].add(w)
        for p in touched:
            n = pair_counts.get(p)
            if n is not None:
                heapq.heappush(heap, (-n, p[0], p[1]))
    return merges, words


def bpe_train(
    docs: DataFrame,
    num_merges: int = 1000,
    min_pair_freq: int = 2,
    max_words: int | None = None,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Train up to `num_merges` BPE merges on the corpus: ONE distributed
    pass collapses it to the (word, freq) table, then the merges run
    driver-side over that table (`_train_from_word_freqs`). Stops early
    when no pair reaches `min_pair_freq`.

    `max_words` keeps the top-N words by (freq desc, word asc) — the
    standard frequency cap for huge corpora; None collects everything.
    The merge list is IDENTICAL to `bpe_train_py`'s on the same word
    table (test_bpe pins this). Returns (merges in rank order, final
    (word, freq, symbols) DataFrame); nothing is persisted."""
    wf = word_frequencies(docs)
    if max_words is not None:
        wf = wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)
    freqs = {r["word"]: r["freq"] for r in wf.collect()}
    merges, words = _train_from_word_freqs(freqs, num_merges, min_pair_freq)
    spark = docs.sparkSession
    table = spark.createDataFrame(
        [(w, c, syms) for w, (syms, c) in sorted(words.items())],
        "word string, freq bigint, symbols array<string>",
    )
    return merges, table


# -- single-process mirror (test oracle; iterative argmax is not SQL) --------

def bpe_train_py(
    texts: list[str], num_merges: int = 32, min_pair_freq: int = 2
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Reference BPE (the classic dict implementation) with the same
    tie-break; returns (merges, final token frequencies)."""
    from collections import Counter

    freqs = Counter(w for t in texts for w in t.split(" ") if w)
    words: dict[str, tuple[list[str], int]] = {
        w: (list(w) + [END], c) for w, c in freqs.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: Counter = Counter()
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_freq:
            break
        (a, b) = best[0]
        merges.append((a, b))
        for w, (syms, c) in words.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[w] = (out, c)
    vocab: dict[str, int] = {}
    for syms, c in words.values():
        for s in syms:
            vocab[s] = vocab.get(s, 0) + c
    return merges, vocab


def bpe_segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic BPE apply: repeatedly merge the lowest-rank adjacent pair
    (the standard encode-time algorithm, shared by the Spark stage and
    the test mirror)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_segment(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply learned merges to the corpus: (doc_id, text) -> (doc_id,
    tokens, n_tokens). Encode-time BPE is inherently per-word sequential
    (lowest-rank-first), so this is the sanctioned Arrow-batched
    mapInArrow escape hatch; a per-task word cache exploits Zipf (each
    distinct word is segmented once per task, not once per occurrence).
    The merges list rides the closure to every worker — it is the small
    trained artifact, exactly like broadcast model weights."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    cache: dict[str, list[str]] = {}  # unpickled empty by every task

    def rows(doc_id, text):
        toks: list[str] = []
        for w in text.split(" "):
            if not w:
                continue
            got = cache.get(w)
            if got is None:
                got = cache[w] = bpe_segment_word(w, ranks)
            toks.extend(got)
        return [{"doc_id": doc_id, "tokens": toks, "n_tokens": len(toks)}]

    return map_rows(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        rows, "doc_id string, tokens array<string>, n_tokens int",
    )
