"""Adapter: derive an interleaved text+media corpus from the driver's
TPC-H-ish `documents` table (doc_id, text, ...).

The driver's testdata has no spans/media tables, so the flagship OCR
pipeline demo derives one deterministically from (doc_id, text) — all
generation runs INSIDE executors via mapInArrow (each task renders its own
PNG payloads), i.e. corpus synthesis itself is distributed and would scale
with the cluster. Both passes (spans view, media view) recompute the same
pure derivation, so they are mutually consistent without any shuffle or
driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.imaging import png_encode
from ..model.glyphs import build_atlas, render_line
from ..model.vocab import Vocabulary
from ..operators.arrow_batch import map_rows

SPANS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, png binary, width int, height int, size_b bigint"
_HEIGHTS = (32, 64, 96, 128)

_ATLAS = None
_VOCAB_SET = None


def _atlas():
    global _ATLAS, _VOCAB_SET
    if _ATLAS is None:
        vocab = Vocabulary()
        _ATLAS = build_atlas(vocab)
        _VOCAB_SET = set(vocab.letters)
    return _ATLAS, _VOCAB_SET


def _derive(doc_id: int, text: str) -> list[dict]:
    """Pure span derivation: chunks of 5 words; every 3rd chunk becomes a
    media span whose truth is the chunk's vocab-filtered prefix."""
    _, vocab_set = _atlas()
    words = text.split(" ")
    spans = []
    offset = 0
    for i in range(0, len(words), 5):
        chunk = " ".join(words[i : i + 5])
        j = i // 5
        offset += 1 + (doc_id + j) % 3
        if j % 3 == 2:
            truth = "".join(c for c in chunk if c in vocab_set)[:16]
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": f"sf-{doc_id:08d}-{j:04d}",
                    "offset": offset,
                    "_truth": truth,
                    "_height": _HEIGHTS[(doc_id + j) % 4],
                }
            )
        else:
            raw = f"<nav>menu</nav><p>{chunk}</p>" if j % 2 == 0 else chunk
            spans.append(
                {"kind": "text", "text": raw, "media_ref": "", "offset": offset}
            )
    return spans


def _optional(asset_fn):
    """A row function over an asset function that may return None."""
    return lambda doc_id, text: [a] if (a := asset_fn(doc_id, text)) is not None else []


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan, re-spread across the cluster: the sf parquet is a
    single file (1 input split), so without a repartition every derivation
    task would run on one core."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(n, "doc_id")
    )


def derive_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a span's "_truth"/"_height" keys are not span fields, so they drop out
    return map_rows(
        _base(spark, sf_dir),
        lambda doc_id, text: [{"doc_id": f"sfdoc-{doc_id:08d}", "spans": _derive(doc_id, text)}],
        SPANS_SCHEMA,
    )


def _media_rows(doc_id: int, text: str) -> list[dict]:
    """One document's media spans, rendered and PNG-encoded."""
    atlas, _ = _atlas()
    rows = []
    for s in _derive(doc_id, text):
        if s["kind"] != "media":
            continue
        img = render_line(s["_truth"], s["_height"], atlas)
        png = png_encode(img)
        rows.append(
            {
                "media_ref": s["media_ref"],
                "png": png,
                "width": img.shape[1],
                "height": img.shape[0],
                "size_b": len(png),
            }
        )
    return rows


def derive_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_base(spark, sf_dir), _media_rows, MEDIA_SCHEMA)


# -- mixed-format image assets (round-4: decode coverage surface) -------------

MIXED_ASSETS_SCHEMA = "asset_id string, fmt string, payload binary"


def mixed_asset(doc_id: int, text: str) -> dict | None:
    """Derive one mixed-format image asset for even doc_ids: the SAME
    rendered text line encoded as gray PNG (filters 0/4, sequential /
    Adam7-interlaced / 16-bit), RGB PNG, palette PNG, gray/color JPEG,
    24-bit BMP, interlaced GIF, LZW+predictor TIFF, lossless WebP
    (predictor / cross-color transforms), 16-bit binary PGM, PNG-in-ICO,
    or a deliberately corrupt payload — the format mix a raw web crawl hands an extraction
    job. Pure function of (doc_id, text): shared verbatim by the Spark
    stage and the golden generator."""
    if doc_id % 2 != 0:
        return None
    from ..functions.gifbmp import bmp_encode, gif_encode
    from ..functions.imaging import png_encode, png_encode_palette
    from ..functions.jpeg import jpeg_encode
    from ..model.glyphs import render_line

    import numpy as np

    atlas, vocab_set = _atlas()
    truth = "".join(c for c in text if c in vocab_set)[:12] or "mixed"
    img = render_line(truth, _HEIGHTS[doc_id % 4], atlas)
    variant = (doc_id // 2) % 20
    asset_id = f"mix-{doc_id:08d}"
    if variant in (0, 1):
        return {"asset_id": asset_id, "fmt": "png-gray", "payload": png_encode(img)}
    if variant == 2:
        return {
            "asset_id": asset_id,
            "fmt": "png-gray-paeth",
            "payload": png_encode(img, filter_type=4),
        }
    if variant in (3, 4):
        rgb = np.stack([img, img // 2 + 64, 255 - img], axis=-1)
        return {"asset_id": asset_id, "fmt": "png-rgb", "payload": png_encode(rgb)}
    if variant == 5:
        palette = np.stack(
            [np.arange(16) * 17, np.arange(16) * 13 % 256, np.arange(16) * 7 % 256],
            axis=-1,
        ).astype(np.uint8)
        idx = (img // 16).astype(np.uint8)
        return {
            "asset_id": asset_id,
            "fmt": "png-palette",
            "payload": png_encode_palette(idx, palette),
        }
    if variant == 6:
        return {
            "asset_id": asset_id,
            "fmt": "jpeg-gray",
            "payload": jpeg_encode(img, quality=90),
        }
    if variant == 7:
        return {
            "asset_id": asset_id,
            "fmt": "jpeg-gray-progressive",
            "payload": jpeg_encode(img, quality=90, progressive=True),
        }
    if variant == 8:
        rgb = np.stack([img, img, 255 - img], axis=-1)
        return {
            "asset_id": asset_id,
            "fmt": "jpeg-rgb-420",
            "payload": jpeg_encode(rgb, quality=85, subsample="420"),
        }
    if variant == 10:
        rgb = np.stack([255 - img, img, img // 3 + 42], axis=-1)
        return {"asset_id": asset_id, "fmt": "bmp-rgb", "payload": bmp_encode(rgb)}
    if variant == 11:
        return {
            "asset_id": asset_id,
            "fmt": "gif-gray",
            "payload": gif_encode(img, interlace=True),
        }
    if variant == 12:
        from ..functions.tiff import tiff_encode

        rgb = np.stack([img, 255 - img, img // 2 + 17], axis=-1)
        return {
            "asset_id": asset_id,
            "fmt": "tiff-rgb-lzw",
            "payload": tiff_encode(rgb, compression="lzw", predictor=True),
        }
    if variant == 13:
        from ..functions.imaging import png_encode_interlaced

        return {
            "asset_id": asset_id,
            "fmt": "png-gray-adam7",
            "payload": png_encode_interlaced(img, filter_type=2),
        }
    if variant == 14:
        from ..functions.imaging import png_encode_16

        return {
            "asset_id": asset_id,
            "fmt": "png-gray16",
            "payload": png_encode_16((img.astype(np.uint16) << 8) | 0x2A),
        }
    if variant == 15:
        from ..functions.webp import webp_encode

        return {
            "asset_id": asset_id,
            "fmt": "webp-gray",
            # 320px keeps all decode paths (20 predictor tiles at
            # bits=4) at ~40% less per-pixel Python in the hot stage
            "payload": webp_encode(
                img[:, :320], subtract_green=True, predictor=11,
                predictor_bits=4,
            ),
        }
    if variant == 16:
        from ..functions.webp import webp_encode

        rgb = np.stack([img, img // 2 + 99, 255 - img // 3], axis=-1)
        return {
            "asset_id": asset_id,
            "fmt": "webp-rgb-ccolor",
            "payload": webp_encode(rgb[:, :320], cross_color=(50, 200, 128)),
        }
    if variant == 17:
        from ..functions.pnmico import pnm_encode

        return {
            "asset_id": asset_id,
            "fmt": "pgm-gray16",
            "payload": pnm_encode(img, maxval=65535),
        }
    if variant == 18:
        from ..functions.pnmico import ico_encode

        return {
            "asset_id": asset_id,
            "fmt": "ico-png",
            "payload": ico_encode(img[:256, :256], as_png=True),
        }
    if variant == 19:
        from ..functions.tiff import tiff_encode

        return {
            "asset_id": asset_id,
            "fmt": "tiff-gray-packbits",
            "payload": tiff_encode(img, compression="packbits",
                                   rows_per_strip=16),
        }
    # variant 9: truncated PNG — exercises quarantine, not an error path
    return {
        "asset_id": asset_id,
        "fmt": "corrupt",
        "payload": png_encode(img)[:25],
    }


def derive_mixed_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_base(spark, sf_dir), _optional(mixed_asset), MIXED_ASSETS_SCHEMA)


# -- deterministic PDF assets (round-4: the PDF/layout-parse surface) ---------

PDF_ASSETS_SCHEMA = "asset_id string, payload binary"


def pdf_asset(doc_id: int, text: str) -> dict | None:
    """Derive one deterministic text PDF for doc_id % 3 == 1: the doc's
    words wrapped 6 per line, paginated 8 lines per page; emission order
    is REVERSED inside each page (real generators emit in arbitrary
    order — the extractor must rebuild reading order from layout, which
    is exactly what the oracle checks). Layout rotates by asset: plain
    1.4, Flate 1.4, LZW-filtered 1.4, Type0/Identity-H composite-font
    (with /ToUnicode, and round-6: without — recovered via the embedded
    /FontFile2 cmap), RC4-, AES-128- and AES-256/R6-encrypted, and the
    modern PDF 1.5 object-stream/xref-stream layout. Pure function of
    (doc_id, text), shared by the Spark derivation and the golden
    generator."""
    if doc_id % 3 != 1:
        return None
    from ..functions.pdf import pdf_encode, pdf_encode_15

    words = [w for w in text.split(" ") if w][:96] or ["empty"]
    lines = [" ".join(words[i : i + 6]) for i in range(0, len(words), 6)]
    pages: list[list[tuple[float, float, float, str]]] = []
    for p in range(0, len(lines), 8):
        page_lines = lines[p : p + 8]
        spans = [
            (72.0, 720.0 - 16.0 * i, 11.0, ln)
            for i, ln in enumerate(page_lines)
        ]
        spans.reverse()  # scrambled emission order: layout must fix it
        pages.append(spans)
    mode = (doc_id // 3) % 9
    if mode == 0:
        payload = pdf_encode(pages, compress=False)
    elif mode == 1:
        payload = pdf_encode_15(pages)  # ObjStm + xref stream
    elif mode == 2:
        payload = pdf_encode(pages, stream_filter="lzw")
    elif mode == 3:
        from ..functions.pdf import pdf_encode_type0

        payload = pdf_encode_type0(pages)  # Type0/Identity-H + ToUnicode
    elif mode == 4:
        from ..functions.pdf import pdf_encrypt_rc4

        # owner-password-only RC4: must open with no credentials
        payload = pdf_encrypt_rc4(pdf_encode(pages, compress=True))
    elif mode == 5:
        from ..functions.pdf import pdf_encrypt_aes

        # owner-password-only AES-128 (/AESV2 crypt filter)
        payload = pdf_encrypt_aes(pdf_encode(pages, compress=True))
    elif mode == 6:
        from ..functions.pdf import pdf_encrypt_aes256

        # PDF 2.0 AES-256 / R6 hardened hash, empty user password
        payload = pdf_encrypt_aes256(pdf_encode(pages, compress=True))
    elif mode == 7:
        from ..functions.pdf import pdf_encode_type0

        # Type0 WITHOUT /ToUnicode: text only via the FontFile2 cmap
        payload = pdf_encode_type0(pages, embed_cmap_font=True)
    else:
        payload = pdf_encode(pages, compress=True)
    return {"asset_id": f"pdf-{doc_id:08d}", "payload": payload}


def derive_pdf_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_base(spark, sf_dir), _optional(pdf_asset), PDF_ASSETS_SCHEMA)


# -- scanned-PDF assets (round-5: the scanned-document OCR surface) -----------

SCANNED_PDF_SCHEMA = "asset_id string, payload binary"


def scanned_pdf_asset(doc_id: int, text: str) -> dict | None:
    """Derive one scanned-document PDF for doc_id % 6 == 5 (disjoint
    from pdf_asset's doc_id % 3 == 1 space): the doc's rendered text
    line embedded as a one-page image XObject. Encoding rotates:
    DCTDecode (JPEG q95), Flate raw bitmap, and RC4-encrypted Flate —
    the three scanned-PDF forms the parser opens. Pure function of
    (doc_id, text), shared by the Spark stage and the golden
    generator."""
    if doc_id % 6 != 5:
        return None
    from ..functions.pdf import pdf_encode_scanned, pdf_encrypt_rc4

    atlas, vocab_set = _atlas()
    truth = "".join(c for c in text if c in vocab_set)[:12] or "scan"
    img = render_line(truth, _HEIGHTS[doc_id % 4], atlas)
    v = (doc_id // 6) % 3
    if v == 0:
        payload = pdf_encode_scanned([img], quality=95)
    elif v == 1:
        payload = pdf_encode_scanned([img], raw_flate=True)
    else:
        payload = pdf_encrypt_rc4(pdf_encode_scanned([img], raw_flate=True))
    return {"asset_id": f"scan-{doc_id:08d}", "payload": payload}


def derive_scanned_pdf_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_base(spark, sf_dir), _optional(scanned_pdf_asset), SCANNED_PDF_SCHEMA)
