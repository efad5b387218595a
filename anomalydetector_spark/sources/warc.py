"""WARC source — ingest Common-Crawl-style web archives into the
engine's pages table.

The north-star input is "an Iceberg table of Common-Crawl-style web
pages (url, warc_ts, html, text, lang)"; the raw form of that data is
WARC (ISO 28500 / WARC/1.0-1.1) — the format Common Crawl publishes.
This source closes the gap from archive file to validated table:

* :func:`read_warc` — distributed parse of WARC files into one row per
  record ``(url, warc_ts, html, warc_type, http_status, content_type,
  record_id)``;
* :func:`warc_to_pages` — project response records onto the engine's
  exact input shape, with ``text`` from the canonical JVM-side
  extractor (``functions.extract_text`` — so the north rule's per-url
  byte-identity invariant holds BY CONSTRUCTION on ingested data) and
  ``lang`` from the marker-voting heuristic;
* CLI ``ingest-warc`` wires both to a parquet sink.

Scale shape: the FILE is the parallelism unit — ``binaryFiles`` hands
each archive to one task, exactly how production Spark jobs consume
Common Crawl (a crawl is ~64k shards of ~1 GB, far more files than
executors; per-record gzip members make WARC.gz non-splittable without
an external index, so file-granularity is the honest unit). Parsing is
a generator over the buffer — peak memory per task is the decompressed
file plus one record, which is why CC shards are sized ~1 GB. Python
in the path is inherent to a byte-level container format (same
precedent as the S4 pickle source); everything AFTER the source —
extraction, lang id, validation — stays JVM-side codegen.

Record framing parsed here (public spec): a header block of
``Name: value`` lines terminated by CRLF CRLF, whose
``Content-Length`` gives the exact block size, then the block, then a
blank-line separator. For ``WARC-Type: response`` records the block is
an HTTP response message; the payload after ITS header block is the
page body. Malformed records are skipped by resyncing on the next
record boundary — one corrupt record of 10^12 must cost one record,
not the shard.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_SCHEMA = (
    "url string, warc_ts timestamp, html binary, warc_type string, "
    "http_status int, content_type string, record_id string"
)

_CRLF2 = b"\r\n\r\n"


def warc_record_bytes(
    url: str,
    ts: str,
    payload: bytes,
    warc_type: str = "response",
    http_status: int = 200,
    content_type: str = "text/html",
    record_id: str = "<urn:uuid:0>",
) -> bytes:
    """One well-formed WARC/1.0 record (fixture builder + format doc).

    ``ts`` is a ``WARC-Date`` string (``2025-01-01T00:00:00Z``). For
    ``response`` records the block wraps ``payload`` in a minimal HTTP
    response; other types carry ``payload`` as the raw block.
    """
    if warc_type == "response":
        block = (
            f"HTTP/1.1 {http_status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload
        block_type = "application/http; msgtype=response"
    else:
        block = payload
        block_type = (
            "text/plain" if warc_type == "conversion"
            else "application/warc-fields"
        )
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: {record_id}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts}\r\n"
        f"Content-Type: {block_type}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    ).encode()
    return head + block + _CRLF2


def _parse_warc_ts(value: str | None):
    if not value:
        return None
    try:
        return _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    except ValueError:
        return None


def _iter_records(data: bytes):
    """Yield ``(headers: dict, block: bytes)`` per record; skip
    malformed records by resyncing on the next ``WARC/`` magic."""
    pos = data.find(b"WARC/")
    while pos != -1:
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end == -1:
            return
        headers = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            name, sep, value = line.partition(b":")
            if sep:
                headers[name.strip().lower().decode("ascii", "replace")] = (
                    value.strip().decode("utf-8", "replace")
                )
        try:
            clen = int(headers["content-length"])
            # an overstated-but-numeric length (corrupt header) would
            # otherwise truncate this record AND stop the scan past
            # EOF, losing every record after it in the shard
            if clen < 0 or hdr_end + 4 + clen > len(data):
                raise ValueError
        except (KeyError, ValueError):
            # unrecoverable framing for THIS record only: resync on the
            # next version magic after the broken header block (the
            # version prefix, not bare 'WARC/', to reduce false
            # resyncs into payloads that merely mention WARC)
            pos = data.find(b"\r\nWARC/1.", hdr_end)
            pos = -1 if pos == -1 else pos + 2
            continue
        block = data[hdr_end + 4 : hdr_end + 4 + clen]
        yield headers, block
        pos = data.find(b"WARC/", hdr_end + 4 + clen)


def _http_parts(block: bytes):
    """Split an HTTP response block into (status, content_type, body)."""
    head, sep, body = block.partition(_CRLF2)
    if not sep:
        return None, None, block
    lines = head.split(b"\r\n")
    status = None
    parts = lines[0].split(None, 2)
    if len(parts) >= 2 and parts[0][:5] == b"HTTP/":
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    ctype = None
    for line in lines[1:]:
        name, s, value = line.partition(b":")
        if s and name.strip().lower() == b"content-type":
            ctype = value.strip().decode("utf-8", "replace")
            break
    return status, ctype, body


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC scan: one row per record, raw.

    ``html`` is the record's payload BYTES, untouched (for response
    records, the HTTP body; decode/extraction happens downstream in
    codegen). ``.gz`` files are decompressed in-task — Python's gzip
    handles the per-record concatenated members CC uses.
    """

    def parse_file(rec):
        fname, contents = rec
        data = bytes(contents)
        # sniff the gzip magic rather than trusting the file name —
        # archive directories mix naming conventions
        if data[:2] == b"\x1f\x8b":
            import gzip

            data = gzip.decompress(data)
        for headers, block in _iter_records(data):
            wtype = headers.get("warc-type")
            if wtype == "response":
                status, ctype, body = _http_parts(block)
            else:
                status, ctype, body = None, headers.get("content-type"), block
            yield (
                headers.get("warc-target-uri"),
                _parse_warc_ts(headers.get("warc-date")),
                body,
                wtype,
                status,
                ctype,
                headers.get("warc-record-id"),
            )

    rdd = spark.sparkContext.binaryFiles(path).flatMap(parse_file)
    return spark.createDataFrame(rdd, WARC_SCHEMA)


def warc_to_pages(records: DataFrame, ok_status_only: bool = True) -> DataFrame:
    """Response records → the engine's exact input table
    ``(url, warc_ts, html, text, lang)``.

    ``text`` is computed by the canonical extractor the north rule's
    byte-identity check re-runs (``functions.extract_text``), so
    ingested tables satisfy the invariant by construction; ``lang`` is
    the marker-voting heuristic over that text. Both are pure codegen —
    Python ends at the record parse.

    By default only HTTP 2xx responses become pages — 404/500/redirect
    bodies are error boilerplate, and the pages shape has no
    ``http_status`` column to filter them later. ``ok_status_only=
    False`` keeps every response (the CLI exposes ``--keep-errors``
    for corpus-forensics runs).
    """
    from anomalydetector_spark.functions import extract_text
    from anomalydetector_spark.operators.text import lang_id

    kept = records.filter(F.col("warc_type") == "response")
    if ok_status_only:
        kept = kept.filter(
            F.col("http_status").between(200, 299)
        )
    text = F.expr(extract_text("`html`"))
    return (
        kept.select("url", "warc_ts", "html", text.alias("text"))
        .withColumn("lang", lang_id(F.col("text")))
    )


def wet_to_pages(records: DataFrame) -> DataFrame:
    """WET (extracted-text) records → the pages shape.

    Common Crawl also publishes WET archives whose ``conversion``
    records carry the ALREADY-extracted page text as the block; many
    pipelines start there instead of raw WARC. Same output schema as
    :func:`warc_to_pages` with ``html`` NULL (there is no raw page to
    re-extract from) and ``text`` the record payload decoded leniently
    (malformed UTF-8 → NULL text, a per-row violation downstream —
    never a job-killing ANSI decode error). Note the byte-identity
    check (the suite's ``text_extraction`` spec) does not apply to WET rows: with
    no ``html`` there is nothing to re-run the extractor on; rows
    instead hit the NULL/size checks like any other text column.
    """
    from anomalydetector_spark.functions import lenient_utf8
    from anomalydetector_spark.operators.text import lang_id

    text = F.expr(lenient_utf8("`html`"))
    return (
        records.filter(F.col("warc_type") == "conversion")
        .select(
            "url",
            "warc_ts",
            F.lit(None).cast("binary").alias("html"),
            text.alias("text"),
        )
        .withColumn("lang", lang_id(F.col("text")))
    )
