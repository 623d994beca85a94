"""Every batch Python stage is a mapInArrow (or applyInArrow) function whose
workers never load pandas; only the two streaming dedup stages are pandas
UDFs.

The curation rows below were produced by the same stages when they ran
through mapInPandas; converting the boundary must not move a value, a type,
a NULL or a row. The row stages (multimodal, pdfops, sf_adapter, batching)
are pinned against their single-process row functions. All Spark work runs
in the suite's session.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from vietnamese_ocr_spark.operators import dedup, textstats
from vietnamese_ocr_spark.operators.arrow_batch import column

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "vietnamese_ocr_spark")

# the stages that still run pandas UDFs (applyInPandasWithState), until an
# Arrow or Row-mode transformWithState is shown to keep pandas out
PANDAS_MODULES = ("streaming/dedup_stream.py", "streaming/neardup_stream.py")
RUNTIME_MODULES = sorted(
    os.path.relpath(os.path.join(d, f), PKG)
    for d, _, files in os.walk(PKG) for f in files if f.endswith(".py")
)

EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "xin"),
    (4, "xin chào"),
    (5, "a b c a b c a b c"),  # the 3-gram "a b c" repeats
    (6, "tiếng việt có dấu thanh điệu"),
    (7, "a  b c"),  # a double space splits into an empty word
    (8, "<div><nav>trang chủ tin tức</nav>"
        "<p>Đây là nội dung chính của bài viết tiếng Việt.</p></div>"),
]

EXPECTED = {
    "shingle_digest_docs": (
        "struct<doc_id:bigint,sarr:array<binary>>",
        [
            (1, []), (2, []), (3, []), (4, []),
            (5, ["06f0760ec7f18687a7fbc0ddbf1b1722", "39f81e44f00ba1bd0231d723d109ade4",
                 "1c1b6efa704b7d5de080f4d3bbdb3203"]),
            (6, ["5f04e349170653613d2432a1919a5525", "355e6c17bbfff142cceb6843058335cf",
                 "ad1ab25382b9c844ac98e659bfa7dc9c", "1a7f4b101b862d111b777f5d99e0fdac"]),
            (7, ["b5cf57e329bd2a219a57cd31692c2d69", "a73e8f52be49cda3c36f9c20fd7a61aa"]),
            (8, ["f24e21af4526357e51d4e6560cc31f51", "f6350c5a27d0e1a816f7a60beaac6b1b",
                 "93aa54641537a6d64cc1d417b01fb497", "1000ac7f2ce276a66fc8cdea0376d2c4",
                 "efe371b237a4b68c50b6ca8e974dcae8", "689d2a996c8a8502331a7bf9206e9bbb",
                 "93d1148e780fc5c644a952eacd1518d9", "458a1240f08e8c2349f68db1a37187b8",
                 "64a67d00990a4bba3f419cbb862d6dae", "bad44fbdf1a2e14f4fd09919def4638f",
                 "d1e1a364f75c59cf135f4b75cd2fc267"]),
        ],
    ),
    "minhash_signatures": (
        "struct<doc_id:bigint,mh0:string,mh1:string,mh2:string,mh3:string>",
        [
            (1, None, None, None, None),
            (2, "9a1c7ee2c7ce38d4bbbaf29ab9f2ac1e", "3afcdbfeb6ecfbdd0ba628696e3cc163",
             "247730f9d0d2eaad265a470e32aa0cdf", "cdee9bf40a070d58d14dfa3bb61e0032"),
            (3, "5691a39839c612892bbf3a3bcdfa8461", "48bb6535c949555656ad7f03cb769013",
             "8a7e8501b42a86092879fdf997d127d2", "a53164497842acc41673c458cd474116"),
            (4, "bafcaaeedd846dac04e4975aae76baac", "92ab8e8fda289d70975c5c44dbdec159",
             "d44edbff357d650b9cc8ffb40738749d", "d90418e6c798ecc60451757aebe0f61e"),
            (5, "239e6a9b6265236e56fea1dca16dd3f1", "2834477bb6f2d7ef93febd33e91d4e52",
             "51ece04b209b10f25b4bc4676852eeb6", "66c39394be8a2b2a8c350451155cd9ef"),
            (6, "249ee877fcb217581d3abe85a1fbb48b", "7c438d64125bf6c76ec35c85cc6c2b5b",
             "2ecb5e4a35c73aea20ac34fff3180f01", "515c4b421e21237849a4301aa35caf39"),
            (7, "2e031a3cb38958504fc3b2b149228f63", "6360596c18d2e51fbc701132bde21d26",
             "d6ca430d47b6aaba662b8fe178daf00e", "1fee3351c45be3efb7490d00408a496f"),
            (8, "1f0077e137de87ee3ccb357782fbf9a2", "367ce9ea320e01285dcb636224d4783b",
             "2c1a48b908ec6ae7b6a39d0b02b48600", "034fdd84d592c7d02d3b4ab05d23c1f5"),
        ],
    ),
    "simhash": (
        "struct<doc_id:bigint,simhash:bigint>",
        [(2, 36057), (3, 64713), (4, 38976), (5, 24056), (6, 36864), (7, 3320),
         (8, 50821)],
    ),
    "minhash_signatures_fast": (
        "struct<doc_id:bigint,mh0:bigint,mh1:bigint,mh2:bigint,mh3:bigint,"
        "mh4:bigint,mh5:bigint,mh6:bigint,mh7:bigint>",
        [
            (1, None, None, None, None, None, None, None, None),
            (2, 1301083643, 950975977, 1088549105, 463334754, 977303401, 1693653950,
             1085530067, 545922291),
            (3, 1282056485, 852571233, 1416222485, 1155068778, 2012305753, 1572693446,
             419786724, 1080819189),
            (4, 2118877201, 1893052765, 2053872285, 1132445374, 1879426300, 148414690,
             1843724749, 991260918),
            (5, 1459178669, 43142350, 1126366253, 889303292, 792548185, 27355584,
             61567945, 1001244398),
            (6, 490608830, 601779081, 549104393, 696139862, 230548711, 349997482,
             275499795, 82142014),
            (7, 444683171, 1028766175, 1299547716, 1167882766, 326298300, 93054581,
             182410336, 67498242),
            (8, 140272249, 184291398, 662194200, 199876912, 235890017, 2617764,
             411675732, 6135434),
        ],
    ),
    "dom_main_content_stage": (
        "struct<doc_id:string,main_text:string>",
        [("1", None), ("2", ""), ("3", ""), ("4", ""), ("5", ""),
         ("6", "tiếng việt có dấu thanh điệu"),
         ("7", ""), ("8", "Đây là nội dung chính của bài viết tiếng Việt.")],
    ),
    "lm_bigram_score": (
        "struct<doc_id:bigint,n_bigrams:bigint,avg_logp:double>",
        [(4, 1, -2.5649), (5, 8, -1.9342), (6, 5, -2.5336), (7, 3, -2.3089),
         (8, 12, -2.529)],
    ),
}


def _stages(docs):
    """The six converted stages over `docs` (doc_id bigint, text string).
    The DOM stage keys on string doc_ids, so it gets the ids as strings."""
    dom_in = docs.selectExpr("cast(doc_id as string) doc_id", "text")
    return {
        "shingle_digest_docs": dedup.shingle_digest_docs(docs),
        "minhash_signatures": dedup.minhash_signatures(docs),
        "simhash": dedup.simhash(docs),
        "minhash_signatures_fast": dedup.minhash_signatures_fast(docs),
        "dom_main_content_stage": textstats.dom_main_content_stage(dom_in),
        "lm_bigram_score": textstats.lm_bigram_score(docs),
    }


def _rows(name, df):
    rows = sorted((tuple(r) for r in df.collect()), key=lambda r: r[0])
    if name == "shingle_digest_docs":
        rows = [(d, [bytes(b).hex() for b in sarr]) for d, sarr in rows]
    return rows


def _row_stages(spark, sf_dir):
    """One multimodal, one pdfops and the batching stage over sf_adapter
    derivations of `sf_dir`: name -> (DataFrame, row key, expected rows)."""
    from vietnamese_ocr_spark.operators.batching import pad_stack_batches
    from vietnamese_ocr_spark.operators.multimodal import decode_stats_row, image_decode_stats
    from vietnamese_ocr_spark.operators.pdfops import pdf_extract_lines, pdf_line_rows
    from vietnamese_ocr_spark.sources import sf_adapter

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pylist()
    mixed = [a for d in docs if (a := sf_adapter.mixed_asset(d["doc_id"], d["text"]))]
    pdfs = [a for d in docs if (a := sf_adapter.pdf_asset(d["doc_id"], d["text"]))]
    n_media = sum(len(sf_adapter._media_rows(d["doc_id"], d["text"])) for d in docs)
    media = sf_adapter.derive_media(spark, sf_dir).select("media_ref", "png")
    return {
        "image_decode_stats": (
            image_decode_stats(sf_adapter.derive_mixed_assets(spark, sf_dir)),
            lambda r: r["asset_id"],
            [decode_stats_row(a["asset_id"], a["fmt"], a["payload"]) for a in mixed],
        ),
        "pdf_extract_lines": (
            pdf_extract_lines(sf_adapter.derive_pdf_assets(spark, sf_dir)),
            lambda r: (r["asset_id"], r["page"] or 0, r["line_no"] or 0),
            [r for a in pdfs for r in pdf_line_rows(a["asset_id"], a["payload"])],
        ),
        "pad_stack_batches": (
            pad_stack_batches(media, batch_size=3).select("batch_id", "n"),
            lambda r: r["batch_id"],
            [{"batch_id": b, "n": min(3, n_media - 3 * b)}
             for b in range((n_media + 2) // 3)],
        ),
    }


def test_stages_keep_their_rows_and_never_load_pandas(spark, tmp_path):
    """NULL text, "", one and two words, a repeated 3-gram, Vietnamese
    diacritics and empty partitions (8 rows over 12 partitions, and the
    dedup stages re-spread over 12) give the rows and schemas the
    mapInPandas stages gave; the row stages give their row functions'
    rows. A fresh environment entry gives these jobs a Python worker pool
    of their own (Spark keys pools on the UDF environment), so every
    worker a mapInArrow probe can land on afterwards has run only these
    stages: it must have their builders and no pandas."""
    from vietnamese_ocr_spark.caching import release_persisted

    words = "xin chao ban toi la nguoi viet nam hoc sinh".split()
    pq.write_table(pa.table({
        "doc_id": pa.array(range(8), pa.int64()),
        "text": [" ".join(words[(i + j) % len(words)] for j in range(20)) for i in range(8)],
    }), tmp_path / "documents.parquet")

    def probe(batches):
        import sys

        import numpy as np
        import pyarrow as pa

        for _ in batches:
            pass
        flags = ["pandas" in sys.modules,
                 "vietnamese_ocr_spark.operators.arrow_batch" in sys.modules]
        cols = [
            pa.Array.from_buffers(
                pa.bool_(), 1, [None, pa.py_buffer(np.packbits([f], bitorder="little"))])
            for f in flags
        ]
        yield pa.RecordBatch.from_arrays(cols, names=["pandas_loaded", "stages_ran"])

    key = "spark.sql.shuffle.partitions"
    old_partitions = spark.conf.get(key)
    env = spark.sparkContext.environment
    spark.conf.set(key, "12")
    env["VIETNAMESE_OCR_TEST_WORKER_POOL"] = "arrow-only-curation"
    try:
        docs = spark.createDataFrame(
            spark.sparkContext.parallelize(EDGE_ROWS, 12), "doc_id bigint, text string")
        for name, df in _stages(docs).items():
            schema, rows = EXPECTED[name]
            assert df.schema.simpleString() == schema, name
            assert _rows(name, df) == rows, name
        for name, (df, row_key, want) in _row_stages(spark, str(tmp_path)).items():
            got = [r.asDict() for r in df.collect()]
            assert want and sorted(got, key=row_key) == sorted(want, key=row_key), name
        got = spark.range(1, numPartitions=1).mapInArrow(
            probe, "pandas_loaded boolean, stages_ran boolean").collect()
    finally:
        env.pop("VIETNAMESE_OCR_TEST_WORKER_POOL")
        spark.conf.set(key, old_partitions)
        release_persisted()
    assert [r.asDict() for r in got] == [{"pandas_loaded": False, "stages_ran": True}]


@pytest.mark.parametrize("module", [m for m in RUNTIME_MODULES if m not in PANDAS_MODULES])
def test_curation_modules_never_reach_pandas(module):
    """Static guard: no runtime module but the streaming pair imports
    pandas or runs a pandas UDF form, so nothing it ships to a worker can
    load it."""
    with open(os.path.join(PKG, module), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bad += [a.name for a in node.names if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "pandas":
            bad.append(node.module)
        elif isinstance(node, ast.Attribute) and node.attr in ("mapInPandas", "applyInPandas"):
            bad.append(node.attr)
    assert bad == []


def _fresh_python(code: str) -> str:
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         cwd=REPO, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.strip()


def test_runtime_modules_import_without_pandas():
    """Importing any runtime module but the streaming pair, in a fresh
    interpreter, leaves pandas unloaded; names the first one that loads it."""
    mods = [
        "vietnamese_ocr_spark." + m[:-3].replace(os.sep, ".").removesuffix(".__init__")
        for m in RUNTIME_MODULES if m not in PANDAS_MODULES and not m.endswith("__main__.py")
    ]
    assert _fresh_python(
        "import importlib, sys\n"
        f"for m in {mods!r}:\n"
        "    importlib.import_module(m)\n"
        "    if 'pandas' in sys.modules:\n"
        "        print(m)\n"
        "        break\n"
    ) == ""


SPAN = StructType([StructField(n, StringType()) for n in ("kind", "text", "media_ref")]
                  + [StructField("offset", IntegerType())])
BUILDER_CASES = [
    (StringType(), ["xin", None, "tiếng việt", ""]),
    (BinaryType(), [b"\x89PNG", None, b"", b"\x00\xff"]),
    (BooleanType(), [True, None, False, True]),
    (IntegerType(), [1, None, -7, 2**31 - 1]),
    (LongType(), [None, 2**40, 0, -1]),
    (FloatType(), [0.1, None, -2.5, 1e30]),
    (DoubleType(), [None, 0.1, -0.0, 1e300]),
    (ArrayType(FloatType()), [[0.5, None], None, [], [1.25, 3.0]]),
    (ArrayType(StringType()), [None, ["a", None, ""], [], ["tiếng"]]),
    (ArrayType(BinaryType()), [[b"\x01", b""], [], None, [None]]),
    (ArrayType(SPAN), [
        [{"kind": "text", "text": "a", "media_ref": "", "offset": 1}, None],
        [],
        None,
        # a key the struct does not name is ignored, a missing one is NULL
        [{"kind": "media", "text": "", "media_ref": "m#1", "_truth": "x"}],
    ]),
]


@pytest.mark.parametrize("spark_type, values", BUILDER_CASES,
                         ids=[t.simpleString() for t, _ in BUILDER_CASES])
def test_column_builder_matches_pa_array(spark_type, values):
    """column() over Python values equals pyarrow's own conversion of them
    to the type Spark derives for a DDL type; NULLs, empty lists and
    NULL list items included."""
    arrow_type = to_arrow_type(spark_type)
    got = column(values, arrow_type)
    got.validate(full=True)
    assert got.type == arrow_type
    assert got.equals(pa.array(values, arrow_type))


def test_column_builder_never_loads_pandas():
    """pa.array() would import pandas; column() over every builder case
    must not."""
    assert _fresh_python(
        "import sys\n"
        "from pyspark.sql.pandas.types import to_arrow_type\n"
        "from tests.test_curation_arrow import BUILDER_CASES\n"
        "from vietnamese_ocr_spark.operators.arrow_batch import column\n"
        "for t, values in BUILDER_CASES:\n"
        "    column(values, to_arrow_type(t)).validate(full=True)\n"
        "print('pandas' in sys.modules)\n"
    ) == "False"
