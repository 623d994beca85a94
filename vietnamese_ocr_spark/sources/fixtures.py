"""Deterministic synthetic corpus generator (FIXTURES.md schemas).

Pure NumPy/pyarrow — no Spark, no network, no real data. Seeded so the
oracle, the pytest suite, and the bench all see byte-identical inputs.
Corpus shape mirrors the reference's (notebook/Gen_Data_123k.ipynb: 123k
generated line images; the synthetic generator concat_aug.py:25-43 is the
reference's own precedent for fabricating labeled lines).

Tables written:
  documents(doc_id string, spans array<struct<kind,text,media_ref,offset:int32>>)
  media(media_ref string, png binary, width int, height int, size_b bigint,
        truth string)   -- truth is generator-private (oracle only)
  labels(media_ref string, text string)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..model.glyphs import build_atlas, render_line, render_multiline
from ..model.vocab import Vocabulary
from ..functions.imaging import png_encode

SEED = 42
HEIGHTS = (32, 64, 96, 128)  # all multiples of 8 -> integral glyph cells

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))]
)
MEDIA_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("png", pa.binary()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("size_b", pa.int64()),
        ("truth", pa.string()),
    ]
)
LABELS_SCHEMA = pa.schema([("media_ref", pa.string()), ("text", pa.string())])

_BOILER_HEADERS = [
    "<header>site header chrome</header>",
    "<nav>home about contact login</nav>",
    "<script>var t = 1;</script>",
    "<style>.x { color: red }</style>",
]
_BOILER_FOOTERS = [
    "<footer>copyright 2024 corp</footer>",
    "<aside>related links list</aside>",
]


def _rand_word(rng: np.random.Generator, letters: list[str], lo: int = 2, hi: int = 9) -> str:
    n = int(rng.integers(lo, hi))
    return "".join(letters[int(i)] for i in rng.integers(0, len(letters), n))


def _rand_text_span(rng: np.random.Generator, letters: list[str]) -> str:
    words = " ".join(_rand_word(rng, letters) for _ in range(int(rng.integers(3, 13))))
    parts = []
    if rng.random() < 0.7:
        parts.append(_BOILER_HEADERS[int(rng.integers(0, len(_BOILER_HEADERS)))])
    parts.append(f"<p>{words}</p>" if rng.random() < 0.5 else words)
    if rng.random() < 0.5:
        parts.append(_BOILER_FOOTERS[int(rng.integers(0, len(_BOILER_FOOTERS)))])
    return "\n".join(parts)


def _rand_truth(rng: np.random.Generator, letters: list[str], max_len: int = 16) -> str:
    n = int(rng.integers(3, max_len + 1))
    return "".join(letters[int(i)] for i in rng.integers(0, len(letters), n))


def generate_corpus(
    n_docs: int,
    out_dir: str,
    seed: int = SEED,
    whale_frac: float = 0.05,
    whale_spans: tuple[int, int] = (30, 61),
) -> dict[str, str]:
    """Write documents/media/labels parquet under out_dir; returns paths.

    Deterministic in (n_docs, seed, whale knobs); the defaults reproduce
    the committed golden corpus byte-for-byte. `whale_frac`/`whale_spans`
    shape the skew tail — bench_scaling.py --skew uses (0.01, (100, 151))
    to build the 1%-of-docs-carry-~100x-media corpus its skewed ladder
    runs on.

    Injected edge cases (FIXTURES.md §1):
      doc 0: spans=[]                       (empty doc)
      doc 1: media with empty truth         ('a' fallback path)
      doc 2: media truth 40 chars           (decode cap / flush at 32)
      doc 3: reuses doc 2's media_ref       (duplicate ref across docs)
      doc 4: text-only doc; doc 5: media-only doc
      doc 6: multi-line media; doc 7: dangling media_ref (span dropped)
      doc 8: duplicate offsets (+ one unknown kind); doc 9: only an
             unknown-kind span (doc survives with spans=[])
    ~5% whale docs with 30-60 media spans at max height (skew fuel).
    """
    vocab = Vocabulary()
    letters = vocab.letters
    atlas = build_atlas(vocab)

    doc_ids: list[str] = []
    doc_spans: list[list[dict]] = []
    media_rows: dict[str, tuple[bytes, int, int, str]] = {}

    def add_media(rng: np.random.Generator, truth: str, height: int) -> str:
        ref = f"img-{len(media_rows):08d}"
        lines = truth.split("\n")
        img = (
            render_multiline(lines, height, atlas)
            if len(lines) > 1
            else render_line(truth, height, atlas)
        )
        png = png_encode(img)
        media_rows[ref] = (png, img.shape[1], img.shape[0], truth)
        return ref

    for i in range(n_docs):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        doc_id = f"doc-{i:08d}"
        spans: list[dict] = []
        offset = 0

        def push(kind: str, text: str, ref: str) -> None:
            nonlocal offset
            offset += int(rng.integers(1, 5))
            spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": offset})

        if i == 0:
            pass  # empty doc
        elif i == 1:
            push("media", "", add_media(rng, "", 64))
        elif i == 2:
            truth = "".join(letters[int(k)] for k in rng.integers(0, len(letters), 40))
            push("media", "", add_media(rng, truth, 64))
        elif i == 3:
            push("text", _rand_text_span(rng, letters), "")
            push("media", "", "img-00000001")  # reuse doc 2's media
        elif i == 4:
            for _ in range(3):
                push("text", _rand_text_span(rng, letters), "")
        elif i == 5:
            for _ in range(3):
                h = int(HEIGHTS[int(rng.integers(0, len(HEIGHTS)))])
                push("media", "", add_media(rng, _rand_truth(rng, letters), h))
        elif i == 6:
            # multi-line media: exercises the detection stage
            lines = "\n".join(_rand_truth(rng, letters) for _ in range(3))
            push("media", "", add_media(rng, lines, 64))
        elif i == 7:
            # dangling media_ref: payload missing from the media table ->
            # the span is dropped (KeyError-drop semantics, oracle + join)
            push("text", _rand_text_span(rng, letters), "")
            push("media", "", "img-dangling-ref")
        elif i == 8:
            # duplicate offsets: the tie MUST break identically on both
            # sides — composite sort key (offset, kind, text, media_ref)
            ref = add_media(rng, _rand_truth(rng, letters), 64)
            spans.append({"kind": "text", "text": "<p>tie zz</p>", "media_ref": "", "offset": 2})
            spans.append({"kind": "text", "text": "tie aa", "media_ref": "", "offset": 2})
            spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": 2})
            spans.append({"kind": "sidebar", "text": "mixed unknown", "media_ref": "", "offset": 5})
        elif i == 9:
            # ONLY an unknown-kind span: it is dropped from the sequence
            # but the doc must survive with spans=[] on both sides
            push("widget", "opaque payload", "")
        else:
            whale = rng.random() < whale_frac
            n_spans = (
                int(rng.integers(*whale_spans)) if whale else int(rng.integers(1, 13))
            )
            for _ in range(n_spans):
                if whale or rng.random() < 0.4:
                    h = 128 if whale else int(HEIGHTS[int(rng.integers(0, len(HEIGHTS)))])
                    max_len = 32 if whale else 16
                    truth = _rand_truth(rng, letters, max_len)
                    if not whale and rng.random() < 0.06:  # multi-line minority
                        truth = "\n".join(
                            [truth] + [_rand_truth(rng, letters) for _ in range(int(rng.integers(1, 3)))]
                        )
                    push("media", "", add_media(rng, truth, h))
                else:
                    push("text", _rand_text_span(rng, letters), "")
        doc_ids.append(doc_id)
        doc_spans.append(spans)

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "media": os.path.join(out_dir, "media.parquet"),
        "labels": os.path.join(out_dir, "labels.parquet"),
    }

    def write_sharded(path: str, table: pa.Table, rows_per_file: int) -> None:
        """Directory of part files — a real table is thousands of files;
        a single file is a single input split and serializes every scan."""
        n = table.num_rows
        if n <= rows_per_file:
            pq.write_table(table, path)
            return
        os.makedirs(path, exist_ok=True)
        for s, lo in enumerate(range(0, n, rows_per_file)):
            pq.write_table(
                table.slice(lo, rows_per_file),
                os.path.join(path, f"part-{s:05d}.parquet"),
            )

    write_sharded(
        paths["documents"],
        pa.Table.from_pydict({"doc_id": doc_ids, "spans": doc_spans}, schema=DOCUMENTS_SCHEMA),
        rows_per_file=500,
    )
    refs = sorted(media_rows)
    write_sharded(
        paths["media"],
        pa.Table.from_pydict(
            {
                "media_ref": refs,
                "png": [media_rows[r][0] for r in refs],
                "width": [media_rows[r][1] for r in refs],
                "height": [media_rows[r][2] for r in refs],
                "size_b": [len(media_rows[r][0]) for r in refs],
                "truth": [media_rows[r][3] for r in refs],
            },
            schema=MEDIA_SCHEMA,
        ),
        rows_per_file=1000,
    )
    pq.write_table(
        pa.Table.from_pydict(
            {"media_ref": refs, "text": [media_rows[r][3] for r in refs]},
            schema=LABELS_SCHEMA,
        ),
        paths["labels"],
    )
    # S4: the reference's TSV label format (`train_gt.txt`, vocab.py:4-9 —
    # "ref\ttext" lines, trailing newline); single-line truths only, since
    # the TSV row format cannot carry embedded newlines
    paths["labels_tsv"] = os.path.join(out_dir, "labels.tsv")
    with open(paths["labels_tsv"], "w", encoding="utf-8") as f:
        for r in refs:
            truth = media_rows[r][3]
            if "\n" not in truth:
                f.write(f"{r}\t{truth}\n")
    return paths
