"""WARC (Web ARChive, ISO 28500) source — the container web crawls ship
in (Common-Crawl-style), parsed with stdlib only.

A WARC file is a sequence of records: a `WARC/1.0` version line, CRLF
header lines, CRLF CRLF, then exactly Content-Length payload bytes and
a CRLF CRLF separator. Crawl archives store one gzip MEMBER per record
(the spec's recommended layout) so readers can split at member
boundaries; Python's zlib handles concatenated members incrementally.

Spark shape: `binaryFile` scans a directory of .warc/.warc.gz files in
parallel (one task per file) and a mapInArrow stage parses records and
emits one row per `response` record: (warc_file, record_id, target_uri,
http_status, content_type, body). HTTP headers are stripped from
response payloads; the body then feeds the SAME html/main-content
extraction path as any text document. Malformed records quarantine as
decode_ok=false rows — at crawl scale a torn record must never kill the
job.

At 100 TB the unit of parallelism is the FILE (crawl WARCs are ~1 GB by
convention, so a 100 TB crawl is ~10^5 splits — plenty for 1000
executors); per-record gzip members additionally allow offset-indexed
splitting when an index (CDX) is available, which this reader documents
as the scale path but does not require.

The fixture writer emits both plain and per-record-gzipped layouts.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.arrow_batch import map_rows

WARC_DDL = (
    "warc_file string, record_id string, target_uri string, "
    "http_status int, content_type string, decode_ok boolean, body string"
)


def _split_headers(blob: bytes) -> tuple[dict[str, str], bytes]:
    head, _, rest = blob.partition(b"\r\n\r\n")
    headers: dict[str, str] = {}
    for line in head.split(b"\r\n")[1:]:  # first line is the version/status
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                "latin-1"
            )
    return headers, rest


def parse_warc(data: bytes) -> list[dict]:
    """All records of one (possibly multi-member-gzip) WARC payload."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)  # handles concatenated members
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data[pos : pos + 5] == b"WARC/":
            raise ValueError("malformed WARC: missing version line")
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("malformed WARC: unterminated header block")
        headers, _ = _split_headers(data[pos : head_end + 4])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("malformed WARC: bad Content-Length") from None
        body_at = head_end + 4
        if body_at + length > n:
            raise ValueError("malformed WARC: truncated record payload")
        out.append(
            {
                "headers": headers,
                "payload": data[body_at : body_at + length],
            }
        )
        pos = body_at + length
    return out


def _dechunk(body: bytes) -> bytes:
    """Undo Transfer-Encoding: chunked (RFC 9112 §7.1). Malformed chunk
    framing raises, which the caller maps to decode_ok=false."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.index(b"\r\n", pos)
        size = int(body[pos:nl].split(b";")[0], 16)
        pos = nl + 2
        if size == 0:
            break  # terminal chunk; trailers (if any) are dropped
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("bad HTTP chunk terminator")
        pos += size + 2
    return bytes(out)


def _http_body(payload: bytes) -> tuple[int, str, bytes]:
    """Split an HTTP response payload: (status, content-type, body)."""
    if not payload.startswith(b"HTTP/"):
        return 0, "", payload
    head, _, body = payload.partition(b"\r\n\r\n")
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = 0
    ctype = ""
    gzipped = False
    chunked = False
    for line in lines[1:]:
        k, sep, v = line.partition(b":")
        if not sep:
            continue
        key = k.strip().lower()
        if key == b"content-type":
            ctype = v.strip().decode("latin-1")
        elif key == b"content-encoding" and b"gzip" in v.lower():
            gzipped = True
        elif key == b"transfer-encoding" and b"chunked" in v.lower():
            chunked = True
    if chunked:  # transfer coding wraps content coding: undo it first
        body = _dechunk(body)
    if gzipped:
        body = gzip.decompress(body)
    return status, ctype, body


def warc_response_rows(warc_file: str, data: bytes) -> list[dict]:
    """One WARC payload -> response-record rows (shared by the Spark
    stage and tests). A torn archive quarantines as ONE decode_ok=false
    row; individual non-response records are simply skipped."""
    try:
        records = parse_warc(data)
    except Exception:
        return [
            {
                "warc_file": warc_file, "record_id": None, "target_uri": None,
                "http_status": None, "content_type": None,
                "decode_ok": False, "body": None,
            }
        ]
    rows = []
    for rec in records:
        h = rec["headers"]
        if h.get("warc-type") != "response":
            continue
        try:
            status, ctype, body = _http_body(rec["payload"])
            text = body.decode("utf-8", errors="replace")
            rows.append(
                {
                    "warc_file": warc_file,
                    "record_id": h.get("warc-record-id", ""),
                    "target_uri": h.get("warc-target-uri", ""),
                    "http_status": status,
                    "content_type": ctype,
                    "decode_ok": True,
                    "body": text,
                }
            )
        except Exception:
            rows.append(
                {
                    "warc_file": warc_file,
                    "record_id": h.get("warc-record-id", ""),
                    "target_uri": h.get("warc-target-uri", ""),
                    "http_status": None, "content_type": None,
                    "decode_ok": False, "body": None,
                }
            )
    return rows


def read_warc_folder(
    spark: SparkSession, directory: str, max_archive_bytes: int = 8 << 30
) -> DataFrame:
    """Directory of .warc/.warc.gz -> one row per HTTP response record.

    binaryFile gives one input split per archive (the WARC unit of
    parallelism); parsing runs in-executor via mapInArrow.

    Each archive is held whole in one task, so per-task memory is
    bounded by archive size. `max_archive_bytes` (default 8 GiB —
    crawl archives are cut at ~1 GiB by convention) quarantines a
    pathological multi-GB file as one decode_ok=false row instead of
    risking an executor OOM; the filter rides binaryFile's `length`
    column, which is pushed down to the file listing, so an oversized
    archive's bytes are never read at all."""
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{warc,warc.gz}")
        .option("recursiveFileLookup", "true")
        .load(directory)
    )
    raw = (
        listing.filter(F.col("length") <= max_archive_bytes)
        .select("path", "content")
    )

    parsed = map_rows(
        raw, lambda path, content: warc_response_rows(path.rsplit("/", 1)[-1], content),
        WARC_DDL,
    )
    oversized = (
        listing.filter(F.col("length") > max_archive_bytes)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("warc_file"),
            F.lit(None).cast("string").alias("record_id"),
            F.lit(None).cast("string").alias("target_uri"),
            F.lit(None).cast("int").alias("http_status"),
            F.lit(None).cast("string").alias("content_type"),
            F.lit(False).alias("decode_ok"),
            F.lit(None).cast("string").alias("body"),
        )
    )
    return parsed.unionByName(oversized)


def warc_documents(responses: DataFrame) -> DataFrame:
    """Response rows -> the curation-shaped (doc_id, text) frame:
    html/plain 200s only, bodies run through the SAME tree-aware
    main-content extraction as the curation pass
    (operators/textstats.dom_main_content_stage)."""
    from ..operators.textstats import dom_main_content_stage

    docs = responses.filter(
        "decode_ok AND http_status = 200 AND "
        "(content_type LIKE 'text/html%' OR content_type LIKE 'text/plain%')"
    ).selectExpr("target_uri as doc_id", "body as text")
    return dom_main_content_stage(docs)


# -- fixture writer -----------------------------------------------------------


def warc_encode(
    records: list[dict], per_record_gzip: bool = False
) -> bytes:
    """records: [{uri, status, content_type, body, [type]}] -> WARC
    bytes (plain, or the crawl-standard one-gzip-member-per-record)."""
    out = io.BytesIO()
    for i, r in enumerate(records):
        body = r["body"].encode("utf-8") if isinstance(r["body"], str) else r["body"]
        http = (
            b"HTTP/1.1 %d OK\r\nContent-Type: %s\r\n"
            b"Content-Length: %d\r\n\r\n"
            % (r.get("status", 200), r.get("content_type", "text/html").encode(), len(body))
        ) + body
        wtype = r.get("type", "response")
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: %s\r\n"
            b"WARC-Record-ID: <urn:uuid:%08d>\r\n"
            b"WARC-Target-URI: %s\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: %d\r\n\r\n"
            % (wtype.encode(), i, r["uri"].encode(), len(http))
        )
        rec = head + http + b"\r\n\r\n"
        if per_record_gzip:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(rec)
            out.write(buf.getvalue())
        else:
            out.write(rec)
    return out.getvalue()


def url_normalize(col):
    """Canonical URL form, entirely JVM-side Column algebra: lowercase
    scheme+host, strip default ports, drop fragments, trim trailing
    slash on bare paths. The standard crawl-dedup key (two fetches of
    the same resource under cosmetically different URLs must collide)."""
    from pyspark.sql import functions as F

    u = F.trim(col)
    u = F.regexp_replace(u, r"#.*$", "")            # fragment
    # lowercase scheme://host (leave path/query case alone)
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^([a-zA-Z]+://[^/]*)", 1)),
        F.regexp_replace(u, r"^[a-zA-Z]+://[^/]*", ""),
    )
    # scheme-conditioned default-port strip (round-7 advice fix): :80 is
    # default only for http and :443 only for https — http://h:443/x and
    # http://h/x are DIFFERENT resources and must not collide in the
    # crawl-dedup key
    u = F.regexp_replace(u, r"^(http://[^/:]+):80(/|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:]+):443(/|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https?://[^/?]+)/$", r"$1")
    return u


def warc_host_stats(responses: DataFrame) -> DataFrame:
    """Crawl profiling: per-host fetch counts, success rate, mean body
    size — the triage table a 100-TB crawl run is steered by. One
    map-side-combined aggregation keyed on the parsed host."""
    from pyspark.sql import functions as F

    return (
        responses.withColumn("norm_url", url_normalize(F.col("target_uri")))
        .withColumn("host", F.parse_url("norm_url", F.lit("HOST")))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_fetches"),
            F.countDistinct("norm_url").alias("n_urls"),
            F.avg(F.when(F.col("http_status") == 200, 1.0).otherwise(0.0))
            .alias("ok_rate"),
            F.avg(F.length("body")).alias("mean_body_chars"),
        )
    )
