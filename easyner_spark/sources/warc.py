"""WARC (Web ARChive) response-record loader — the Common-Crawl-style
ingestion front of the pages table.

The reference ingests its corpus via per-file download+parse loops
(scripts/pubmed_bulk.py:108-139 is the shape; see sources/pubmed.py);
the web-scale analog of those baseline files is Common Crawl's WARC
segments: concatenated WARC/1.0 records, each record individually
gzip-membered so readers can random-access members. This module turns
a directory of `*.warc[.gz]` files into the engine's canonical pages
table (url, warc_ts, html); boilerplate.extract_text adds `text`. The
table has no `lang` column, so the CLI's language filter passes every
page.

Spark shape: identical to the PubMed bulk loader — a `binaryFile`
scan (one task per segment file, never split; cluster parallelism =
segment count, Common Crawl ships ~64k segments per crawl) feeding an
Arrow `mapInPandas` parser. Nothing shuffles; ingest runs at scan
speed. Task memory = the compressed blob (the binaryFile contract;
production swaps in an object-store range reader) + O(one record) of
decompression buffer — the gzip stream is consumed incrementally,
never materialized whole.

Parsing contract (WARC/1.0, ISO 28500):
  - records are delimited by their `Content-Length` header, NEVER by
    scanning for blank lines — response payloads legally contain
    `\\r\\n\\r\\n` and even `WARC/1.0` literals;
  - only `WARC-Type: response` records are kept (warcinfo, request,
    metadata records are skipped);
  - the HTTP response inside a response record splits at the FIRST
    `\\r\\n\\r\\n`; the status code comes from the status line, the
    mime type from `Content-Type` up to the first `;`;
  - gzip is sniffed from magic bytes (multi-member streams are
    decompressed end-to-end), never from the file name.
"""

from __future__ import annotations

import gzip
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_SCHEMA = (
    "url string, warc_date string, status int, mime string, html binary"
)

_GZ_MAGIC = b"\x1f\x8b"


def _parse_warc_headers(block: bytes) -> dict[str, str]:
    """WARC header block -> lower-cased name->value dict (the version
    line is skipped; duplicate names keep the first occurrence, which
    is all the fields this loader reads ever legally have)."""
    out: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:
        name, sep, value = line.partition(b":")
        if sep and name:
            key = name.strip().decode("iso-8859-1").lower()
            out.setdefault(key, value.strip().decode("iso-8859-1"))
    return out


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers, payload) per WARC record. Record boundaries are
    computed from Content-Length — payload-content-proof — and the
    gzip stream is decompressed INCREMENTALLY (GzipFile reads
    multi-member streams transparently), so task memory is the
    compressed blob (the binaryFile row the caller already holds)
    plus O(one record) of buffer — never the whole decompressed
    segment (a ~1 GB .warc.gz expands ~5x; materializing it per task
    would dominate executor memory at segment scale)."""
    import io

    if data[:2] == _GZ_MAGIC:
        stream: io.BufferedIOBase = gzip.GzipFile(fileobj=io.BytesIO(data))
    else:
        stream = io.BytesIO(data)
    chunk_size = 1 << 16
    buf = b""
    while True:
        # locate the next record header (tolerating inter-record
        # \r\n\r\n and stray padding); only pre-marker junk is dropped
        start = buf.find(b"WARC/")
        while start < 0:
            chunk = stream.read(chunk_size)
            if not chunk:
                return
            buf = buf[-8:] + chunk  # keep a tail to catch split markers
            start = buf.find(b"WARC/")
        buf = buf[start:]
        head_end = buf.find(b"\r\n\r\n")
        while head_end < 0:
            chunk = stream.read(chunk_size)
            if not chunk:
                return  # truncated header
            buf += chunk
            head_end = buf.find(b"\r\n\r\n")
        headers = _parse_warc_headers(buf[:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return  # malformed record: stop rather than guess a boundary
        need = head_end + 4 + length
        while len(buf) < need:
            chunk = stream.read(need - len(buf))
            if not chunk:
                return  # truncated body
            buf += chunk
        yield headers, buf[head_end + 4 : need]
        buf = buf[need:]


def parse_http_response(payload: bytes) -> tuple[int, str, bytes]:
    """(status, mime, body) from an `application/http; msgtype=response`
    payload. Returns (0, '', payload) when no HTTP envelope is present
    (some archives store raw resource records)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload.startswith(b"HTTP/"):
        return 0, "", payload
    head = payload[:sep].decode("iso-8859-1")
    lines = head.split("\r\n")
    parts = lines[0].split()
    status = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0
    mime = ""
    for line in lines[1:]:
        name, sep2, value = line.partition(":")
        if sep2 and name.strip().lower() == "content-type":
            mime = value.split(";")[0].strip().lower()
            break
    return status, mime, payload[sep + 4 :]


def parse_warc_bytes(blob: bytes) -> list[tuple[str, str, int, str, bytes]]:
    """One segment file -> (url, warc_date, status, mime, html) rows,
    response records only."""
    rows = []
    for headers, payload in iter_warc_records(blob):
        if headers.get("warc-type") != "response":
            continue
        status, mime, body = parse_http_response(payload)
        rows.append(
            (
                headers.get("warc-target-uri", ""),
                headers.get("warc-date", ""),
                status,
                mime,
                body,
            )
        )
    return rows


def warc_load(spark: SparkSession, path: str) -> DataFrame:
    """Scan + parse a directory/glob of WARC segment files. One task
    per file (binaryFile rows never split) — the pubmed_bulk_load
    shape; at Common Crawl scale parallelism is the ~64k segments."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def gen(batches) -> Iterator["pd.DataFrame"]:
        cols = ["url", "warc_date", "status", "mime", "html"]
        for pdf in batches:
            for blob in pdf["content"]:
                yield pd.DataFrame(parse_warc_bytes(bytes(blob)), columns=cols)

    return files.select("content").mapInPandas(gen, WARC_SCHEMA)


def warc_pages(records: DataFrame, ok_only: bool = True) -> DataFrame:
    """Canonical pages projection (url, warc_ts, html): HTTP 200 +
    text/html gate (the standard Common Crawl curation cut) applied
    scan-side. boilerplate.extract_text supplies `text`; with no
    `lang` column the CLI's language filter passes every page."""
    out = records
    if ok_only:
        out = out.where((F.col("status") == 200) & (F.col("mime") == "text/html"))
    return out.select(
        "url",
        F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ssX").alias(
            "warc_ts"
        ),
        "html",
    )


def build_warc_record(
    url: str,
    warc_date: str,
    body: bytes,
    warc_type: str = "response",
    status: int = 200,
    mime: str = "text/html",
) -> bytes:
    """Serialize one WARC/1.0 record (test/fixture helper — the exact
    inverse of the parsing contract, HTTP envelope included for
    request/response types)."""
    if warc_type in ("response", "request"):
        if warc_type == "response":
            http_head = (
                f"HTTP/1.1 {status} OK\r\nContent-Type: {mime}; charset=UTF-8\r\n"
                f"Content-Length: {len(body)}\r\n"
            ).encode()
        else:
            http_head = f"GET {url} HTTP/1.1\r\nHost: x\r\n".encode()
        payload = http_head + b"\r\n" + body
        ctype = f"application/http; msgtype={warc_type}"
    else:
        payload = body
        ctype = "application/warc-fields"
    head = (
        f"WARC/1.0\r\nWARC-Type: {warc_type}\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {warc_date}\r\nWARC-Record-ID: <urn:test:{warc_type}>\r\n"
        f"Content-Type: {ctype}\r\nContent-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def build_warc_gz(records: list[bytes], member_per_record: bool = True) -> bytes:
    """Concatenate serialized records into a segment blob; with
    `member_per_record` each record is its own gzip member (the Common
    Crawl layout the multi-member decompressor must handle)."""
    if member_per_record:
        return b"".join(gzip.compress(r) for r in records)
    return gzip.compress(b"".join(records))
