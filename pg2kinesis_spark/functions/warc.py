"""WARC (ISO 28500) ingestion — the CommonCrawl front door.

Web-scale corpora start life as WARC archives (~1 GB gzip files, ~64k
per crawl). This module turns ``spark.read.format("binaryFile")`` over
a WARC directory into a document DataFrame, dependency-free:

- ``warc_records``      — mapInPandas kernel splitting each archive
                          into typed records (warcinfo / request /
                          response / metadata …) with WARC headers and
                          the raw payload. Handles plain and gzip
                          archives (per-record gzip members, the
                          standard .warc.gz layout, via stdlib zlib).
- ``warc_responses_to_docs`` — HTTP-response records → (doc_id, url,
                          http_status, html) rows: parses the HTTP
                          envelope inside the payload, keeps 2xx
                          text/html, decodes the body (utf-8 with
                          replacement — charset sniffing beyond the
                          header is out of scope and pinned so).
- ``warc_to_corpus``    — the composed front door: records → docs →
                          html.html_to_text_col → (doc_id, url, text),
                          ready for ``curate_corpus``.
- ``encode_warc``       — record writer (doubles as the test-fixture
                          generator, the pgoutput-encoder convention).

Scale shape: binaryFile gives one task per archive — CommonCrawl's
64k-files-per-crawl layout IS the parallelism (a 1 GB gzip member
stream cannot be split mid-file; Spark's maxPartitionBytes does not
apply to binaryFile, and the kernel holds one decompressed archive at
a time). Everything downstream is columnar; the HTML→text stage is
pure codegen (html.py), so the only Python cost is the unavoidable
byte-level record split — Arrow-batched, constant memory per batch.

The reference (/root/reference/pg2kinesis) has no analogue — this is
north-star training-data surface, not parity.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("offset", T.LongType()),       # into the DECOMPRESSED stream
        T.StructField("warc_type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        # NULL for good records; set (with everything else NULL) on the
        # single row a quarantined archive emits — multimodal.py's
        # dirty-data contract applied to the crawl front door
        T.StructField("decode_error", T.StringType()),
    ]
)


def gunzip_members(data: bytes, max_bytes: int = 1 << 31) -> bytes:
    """Decompress a possibly multi-member gzip stream (the .warc.gz
    layout: one gzip member per record). Plain data passes through.

    Output is capped at ``max_bytes`` (default 2 GiB — the kernel holds
    one decompressed archive at a time, and real WARC segments are ~1 GiB
    compressed): gzip expands up to ~1032x per member, so an unbounded
    inflate of a hostile archive is a memory bomb the quarantine channel
    cannot catch."""
    if data[:2] != b"\x1f\x8b":
        return data
    out = []
    total = 0
    ok_members = 0
    while data:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        buf = data
        try:
            while True:
                chunk = d.decompress(buf, max_bytes + 1 - total)
                out.append(chunk)
                total += len(chunk)
                if total > max_bytes:
                    raise ValueError(
                        f"decompressed archive exceeds {max_bytes} bytes (gzip bomb?)"
                    )
                if d.eof or not d.unconsumed_tail or not chunk:
                    break
                buf = d.unconsumed_tail
        except zlib.error as e:
            # corrupt member: SALVAGE what already decoded — but a
            # stream that never produced a complete member must RAISE,
            # or a fully-corrupt archive silently vanishes (no records,
            # no quarantine row, no audit trail)
            if ok_members == 0 and total == 0:
                raise ValueError(f"corrupt gzip stream: {e}") from e
            break
        if not d.eof:
            # truncated trailing member: keep what decoded — same
            # nothing-at-all rule as the corrupt case
            if ok_members == 0 and total == 0:
                raise ValueError("truncated gzip stream: no complete member")
            break
        ok_members += 1
        data = d.unused_data
        if data[:2] != b"\x1f\x8b":
            break
    return b"".join(out)


def iter_warc_records(buf: bytes):
    """Yield (offset, headers: dict[str,str] lowercase, payload bytes)."""
    pos, n = 0, len(buf)
    while pos < n:
        while buf[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        head_end = buf.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        lines = buf[pos:head_end].decode("utf-8", "replace").split("\r\n")
        if not lines[0].startswith("WARC/"):
            break  # desynchronized / not a WARC stream: stop, don't guess
        hdrs: dict[str, str] = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            # trim only ASCII LWS (WARC-1.1 §4 field grammar) — str.strip()
            # would also eat Unicode whitespace like U+00A0 that is part of
            # the header VALUE (e.g. a WARC-Target-URI ending in NBSP)
            hdrs[k.strip(" \t\r\n").lower()] = v.strip(" \t\r\n")
        try:
            clen = int(hdrs.get("content-length", "0"))
        except ValueError:
            break
        if clen < 0:
            # a negative Content-Length would move pos BACKWARD and
            # re-yield the same record forever (hostile input)
            break
        payload = buf[head_end + 4 : head_end + 4 + clen]
        yield pos, hdrs, payload
        pos = head_end + 4 + clen


def parse_http_response(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from an HTTP/1.x response payload."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, payload
    lines = payload[:sep].decode("latin-1", "replace").split("\r\n")
    status = None
    parts = lines[0].split(None, 2)
    if len(parts) >= 2 and parts[0].startswith("HTTP/") and parts[1].isdigit():
        status = int(parts[1])
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, payload[sep + 4 :]


def warc_records(
    archives: DataFrame,
    errors: str = "quarantine",
    max_inflate_bytes: int = 1 << 31,
) -> DataFrame:
    """(path, content binary) → one row per WARC record (RECORD_SCHEMA).

    ``archives`` is typically ``spark.read.format("binaryFile")
    .load(dir)`` — the kernel decompresses and splits each archive
    within its task; record payloads stream out in Arrow batches.

    ``errors="quarantine"`` (default): an archive whose processing
    raises (gzip bomb over the inflate cap, pathological structure)
    yields ONE row with ``decode_error`` set and everything else NULL
    instead of failing the task — at crawl scale some archives WILL be
    hostile or corrupt, and four task retries then stage death is the
    wrong response (the media-kernel contract, multimodal.py). Corrupt
    gzip members are additionally SALVAGED: records decoded before the
    corruption still flow. ``errors="raise"`` keeps fail-stop for
    trusted archives."""
    import pandas as pd

    from pg2kinesis_spark.functions.multimodal import _check_errors

    _check_errors(errors)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in RECORD_SCHEMA.fieldNames()}

            def emit(path, off, hdrs, payload, err):
                rows["path"].append(path)
                rows["offset"].append(off)
                rows["warc_type"].append(hdrs.get("warc-type"))
                rows["url"].append(hdrs.get("warc-target-uri"))
                rows["warc_date"].append(hdrs.get("warc-date"))
                rows["record_id"].append(hdrs.get("warc-record-id"))
                rows["content_type"].append(hdrs.get("content-type"))
                rows["payload"].append(payload)
                rows["decode_error"].append(err)

            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    buf = gunzip_members(bytes(content), max_bytes=max_inflate_bytes)
                    for off, hdrs, payload in iter_warc_records(buf):
                        emit(path, off, hdrs, payload, None)
                except Exception as e:  # noqa: BLE001 — quarantine channel
                    if errors == "raise":
                        raise
                    emit(path, None, {}, None, f"{type(e).__name__}: {e}")
            yield pd.DataFrame(rows)

    return archives.select("path", "content").mapInPandas(kernel, RECORD_SCHEMA)


DOC_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("html", T.StringType()),
    ]
)


def warc_responses_to_docs(records: DataFrame) -> DataFrame:
    """Response records → (path, offset, url, http_status, html).

    Keeps 2xx responses whose HTTP Content-Type explicitly says
    text/html; a response with NO Content-Type header is dropped — an
    untyped body is as likely a JPEG as a page, and utf-8-replace
    decoding it would land mojibake in the corpus. Body bytes decode
    as utf-8 with replacement; the pinned rule, mirrored in tests.
    """
    import pandas as pd

    resp = records.filter(F.col("warc_type") == "response")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in DOC_SCHEMA.fieldNames()}
            for path, off, url, payload in zip(
                pdf["path"], pdf["offset"], pdf["url"], pdf["payload"]
            ):
                status, ctype, body = parse_http_response(bytes(payload))
                if status is None or not (200 <= status < 300):
                    continue
                if ctype is None or "text/html" not in ctype.lower():
                    continue
                rows["path"].append(path)
                rows["offset"].append(int(off))
                rows["url"].append(url)
                rows["http_status"].append(status)
                rows["html"].append(body.decode("utf-8", "replace"))
            yield pd.DataFrame(rows)

    return resp.select("path", "offset", "url", "payload").mapInPandas(kernel, DOC_SCHEMA)


def warc_to_corpus(archives: DataFrame, errors: str = "quarantine") -> DataFrame:
    """The composed CommonCrawl front door: archives → (doc_id, url,
    text). doc_id is the cross-engine md5-60 hash of path:offset —
    stable across reruns and engines (the sampling.HASH60 recipe), so
    downstream dedup/sampling decisions are reproducible. Quarantined
    archives' error rows (warc_records ``errors=``) are not responses,
    so they drop out of the corpus here — audit them on warc_records'
    output directly."""
    from pg2kinesis_spark.functions.html import html_to_text_col
    from pg2kinesis_spark.functions.sampling import HASH60

    docs = warc_responses_to_docs(warc_records(archives, errors=errors))
    key = "concat(path, ':', cast(offset as string))"
    return docs.select(
        F.expr(HASH60.format(x=key)).alias("doc_id"),
        "url",
        html_to_text_col(F.col("html")).alias("text"),
    )


def encode_warc(
    records: list[dict],
    gzip_members: bool = False,
) -> bytes:
    """Serialize records (dicts with warc_type/url/payload/…) to WARC
    bytes — the test-fixture writer. With ``gzip_members`` each record
    becomes its own gzip member (the .warc.gz convention)."""
    import gzip as _gzip

    out = []
    for i, r in enumerate(records):
        payload: bytes = r.get("payload", b"")
        hdrs = [
            ("WARC-Type", r.get("warc_type", "response")),
            ("WARC-Record-ID", r.get("record_id", f"<urn:uuid:rec-{i}>")),
            ("WARC-Date", r.get("warc_date", "2026-01-01T00:00:00Z")),
            ("Content-Length", str(len(payload))),
        ]
        if r.get("url"):
            hdrs.insert(1, ("WARC-Target-URI", r["url"]))
        if r.get("content_type"):
            hdrs.append(("Content-Type", r["content_type"]))
        head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in hdrs)
        rec = head.encode() + b"\r\n" + payload + b"\r\n\r\n"
        out.append(_gzip.compress(rec) if gzip_members else rec)
    return b"".join(out)


def http_response_bytes(
    body: bytes, status: int = 200, content_type: str = "text/html; charset=utf-8"
) -> bytes:
    """An HTTP/1.1 response envelope for fixture payloads."""
    head = (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n"
    )
    return head.encode("latin-1") + b"\r\n" + body
