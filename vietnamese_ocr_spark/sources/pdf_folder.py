"""Raw PDF-directory source: point the extraction pipeline at PDFs.

The binaryFile data source scans the directory tree in parallel (glob
pushed to the listing, one task per file split); a mapInArrow stage
parses each PDF with the pure-stdlib parser (functions/pdf.py), rebuilds
reading order from layout, and emits one document per file in the
input_hint shape — each reconstructed line becomes a text span with its
line index as the offset. The normalize/stitch legs of the flagship
pipeline then apply unchanged (north_rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics" under one extraction roof).

Round-5: SCANNED pages too. Image XObjects (/DCTDecode = embedded
JPEG, or Flate raw bitmaps) become media spans routed through the SAME
OCR stage as any other media payload — a scanned PDF extracts via
recognition, a text PDF via layout parse, and a mixed document gets
both, interleaved per page in reading order. This is the north_rule
interleaved text+media shape arising from a single real-world file
format.

Undecodable PDFs (corrupt, AES-encrypted) survive as documents with
spans=[]; pages whose images use unsupported encodings keep their text
spans and drop only the images — quarantine, not failure, same
contract as image decode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.arrow_batch import map_rows

DOCUMENTS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


MEDIA_SCHEMA = "media_ref string, png binary, size_b long"


def _pdf_doc(doc_id: str, content: bytes) -> tuple[list[dict], list[dict]]:
    """Pure per-file derivation shared by the documents and media
    passes (the sf_adapter two-pass pattern): -> (spans, media_rows).
    Per page, text lines come first (reading order), then that page's
    image XObjects (sorted by name); offsets are the global sequence."""
    from ..functions.pdf import pdf_lines, pdf_page_images

    try:
        lines = pdf_lines(content)
    except Exception:
        return [], []  # quarantined: doc survives with spans=[]
    try:
        images = pdf_page_images(content)
    except Exception:
        images = []  # unsupported image forms drop images, keep text
    spans: list[dict] = []
    media: list[dict] = []
    pages = sorted(
        {ln["page"] for ln in lines} | {im["page"] for im in images}
    )
    offset = 0
    for page in pages:
        for ln in (l for l in lines if l["page"] == page):
            spans.append(
                {"kind": "text", "text": ln["text"], "media_ref": "",
                 "offset": offset}
            )
            offset += 1
        for im in (i for i in images if i["page"] == page):
            ref = f"{doc_id}#p{im['page']}{im['name']}"
            spans.append(
                {"kind": "media", "text": "", "media_ref": ref,
                 "offset": offset}
            )
            media.append(
                {"media_ref": ref, "png": im["payload"],
                 "size_b": len(im["payload"])}
            )
            offset += 1
    return spans, media


def _raw_files(spark: SparkSession, directory: str, glob: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(directory)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("doc_id"),
            F.col("content"),
        )
    )


def read_pdf_folder(spark: SparkSession, directory: str, glob: str = "*.pdf") -> DataFrame:
    """Directory of PDFs -> documents(doc_id, spans) in input_hint shape.

    doc_id = file base name (the per-file keying the reference uses for
    its inputs, src/utils/inference.py:105-111)."""
    return map_rows(
        _raw_files(spark, directory, glob),
        lambda doc_id, content: [{"doc_id": doc_id, "spans": _pdf_doc(doc_id, content)[0]}],
        DOCUMENTS_SCHEMA,
    )


def read_pdf_media(spark: SparkSession, directory: str, glob: str = "*.pdf") -> DataFrame:
    """Directory of PDFs -> media(media_ref, png, size_b): the embedded
    image payloads the media spans emitted by read_pdf_folder reference.
    Same scan, same pure derivation — mutually consistent with the
    documents pass without any shuffle or driver state."""
    return map_rows(
        _raw_files(spark, directory, glob),
        lambda doc_id, content: _pdf_doc(doc_id, content)[1], MEDIA_SCHEMA,
    )
