"""WARC source: record parse, gzip, malformed-record resync, pages
projection, CLI ingest (sources/warc.py)."""

from __future__ import annotations

import datetime as dt
import gzip

from anomalydetector_spark import cli
from anomalydetector_spark.sources.warc import (
    read_warc,
    warc_record_bytes,
    warc_to_pages,
)

HTML1 = b"<html><body>Hello <b>web</b> page one</body></html>"
HTML2 = b"<html><p>the second and the best page</p></html>"


def _archive() -> bytes:
    return (
        warc_record_bytes(
            "urn:warcinfo", "2025-01-01T00:00:00Z", b"software: test\r\n",
            warc_type="warcinfo", record_id="<urn:uuid:i>",
        )
        + warc_record_bytes(
            "http://a.example/one", "2025-01-02T03:04:05Z", HTML1,
            record_id="<urn:uuid:1>",
        )
        + warc_record_bytes(
            "http://b.example/two", "2025-01-03T00:00:00Z", HTML2,
            http_status=404, content_type="text/html; charset=utf-8",
            record_id="<urn:uuid:2>",
        )
    )


def test_read_warc_parses_records_byte_exact(spark, tmp_path):
    p = tmp_path / "a.warc"
    p.write_bytes(_archive())
    rows = {r.record_id: r for r in read_warc(spark, str(p)).collect()}
    assert set(rows) == {"<urn:uuid:i>", "<urn:uuid:1>", "<urn:uuid:2>"}
    r1 = rows["<urn:uuid:1>"]
    assert bytes(r1.html) == HTML1  # payload byte-exact, HTTP head stripped
    assert r1.url == "http://a.example/one"
    assert r1.warc_type == "response"
    assert r1.http_status == 200
    assert r1.content_type == "text/html"
    assert r1.warc_ts == dt.datetime(2025, 1, 2, 3, 4, 5)
    r2 = rows["<urn:uuid:2>"]
    assert r2.http_status == 404
    assert r2.content_type == "text/html; charset=utf-8"
    assert bytes(r2.html) == HTML2
    assert rows["<urn:uuid:i>"].warc_type == "warcinfo"


def test_read_warc_gzip_and_directory(spark, tmp_path):
    (tmp_path / "a.warc").write_bytes(_archive())
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(_archive()))
    df = read_warc(spark, str(tmp_path))
    assert df.count() == 6  # both files parsed; gz decompressed in-task


def test_malformed_record_resync(spark, tmp_path):
    broken = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: NOPE\r\n\r\n"
        b"garbage that is not a record body\r\n\r\n"
    )
    p = tmp_path / "a.warc"
    p.write_bytes(broken + _archive())
    rows = read_warc(spark, str(p)).collect()
    # the corrupt record costs itself, not the shard
    assert {r.record_id for r in rows} == {
        "<urn:uuid:i>", "<urn:uuid:1>", "<urn:uuid:2>",
    }


def test_warc_to_pages_shape_and_extraction(spark, tmp_path):
    from anomalydetector_spark.functions import extract_text
    import pyspark.sql.functions as F

    p = tmp_path / "a.warc"
    p.write_bytes(_archive())
    records = read_warc(spark, str(p))
    pages = warc_to_pages(records)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = {r.url: r for r in pages.collect()}
    # the 404 response is error boilerplate — dropped by default
    assert set(rows) == {"http://a.example/one"}
    assert rows["http://a.example/one"].text == "Hello web page one"
    # keep-errors variant retains every response
    all_rows = {r.url: r for r in warc_to_pages(
        records, ok_status_only=False).collect()}
    assert set(all_rows) == {
        "http://a.example/one", "http://b.example/two",
    }
    assert all_rows["http://b.example/two"].lang == "en"  # 'the' markers
    # north-rule invariant holds by construction: re-running the
    # canonical extractor over html matches the text column byte-wise
    mism = pages.filter(
        ~F.expr(extract_text("html")).eqNullSafe(F.col("text"))
    ).count()
    assert mism == 0


def test_cli_ingest_warc(spark, tmp_path, capsys):
    (tmp_path / "a.warc").write_bytes(_archive())
    out = str(tmp_path / "pages")
    cli.main(["ingest-warc", "--input-path", str(tmp_path / "a.warc"),
              "--output-path", out])
    pages = spark.read.parquet(out)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == 1  # the 404 is dropped by default
    assert "ingested 1 pages" in capsys.readouterr().out
    out_all = str(tmp_path / "pages_all")
    cli.main(["ingest-warc", "--input-path", str(tmp_path / "a.warc"),
              "--output-path", out_all, "--keep-errors"])
    assert spark.read.parquet(out_all).count() == 2
    # --raw keeps every record type with warc/http metadata
    out2 = str(tmp_path / "raw")
    cli.main(["ingest-warc", "--input-path", str(tmp_path / "a.warc"),
              "--output-path", out2, "--raw"])
    raw = spark.read.parquet(out2)
    assert raw.count() == 3
    assert {"warc_type", "http_status", "record_id"} <= set(raw.columns)


def test_wet_to_pages(spark, tmp_path):
    from anomalydetector_spark.sources.warc import wet_to_pages

    wet = (
        warc_record_bytes(
            "urn:warcinfo", "2025-01-01T00:00:00Z", b"fmt: wet\r\n",
            warc_type="warcinfo", record_id="<urn:uuid:i>",
        )
        + warc_record_bytes(
            "http://a.example/one", "2025-01-02T00:00:00Z",
            "the extracted text of the page — already plain".encode(),
            warc_type="conversion", record_id="<urn:uuid:1>",
        )
        + warc_record_bytes(
            "http://bad.example/x", "2025-01-03T00:00:00Z",
            b"\xff\xfebroken utf8",
            warc_type="conversion", record_id="<urn:uuid:2>",
        )
    )
    p = tmp_path / "a.warc.wet"
    p.write_bytes(wet)
    pages = wet_to_pages(read_warc(spark, str(p)))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = {r.url: r for r in pages.collect()}
    assert set(rows) == {"http://a.example/one", "http://bad.example/x"}
    ok = rows["http://a.example/one"]
    assert ok.text == "the extracted text of the page — already plain"
    assert ok.lang == "en"
    assert ok.html is None
    # malformed UTF-8 -> NULL text (a downstream violation), never an
    # ANSI decode error
    assert rows["http://bad.example/x"].text is None


def test_cli_ingest_wet(spark, tmp_path, capsys):
    wet = warc_record_bytes(
        "http://a.example/one", "2025-01-02T00:00:00Z",
        b"plain text body", warc_type="conversion",
        record_id="<urn:uuid:1>",
    )
    (tmp_path / "a.warc.wet.gz").write_bytes(gzip.compress(wet))
    out = str(tmp_path / "pages")
    cli.main(["ingest-warc", "--input-path", str(tmp_path / "a.warc.wet.gz"),
              "--output-path", out, "--wet"])
    pages = spark.read.parquet(out)
    assert pages.count() == 1
    assert pages.first().text == "plain text body"
    assert "ingested 1 pages" in capsys.readouterr().out


def test_overstated_content_length_costs_one_record(spark, tmp_path):
    """A numeric-but-overstated Content-Length must not swallow the
    rest of the shard — parse resyncs on the next record magic."""
    lying = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:liar>\r\n"
        b"WARC-Target-URI: http://liar.example/\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        b"Content-Length: 99999999\r\n\r\n"
        b"short body\r\n\r\n"
    )
    p = tmp_path / "a.warc"
    p.write_bytes(lying + _archive())
    rows = read_warc(spark, str(p)).collect()
    assert {r.record_id for r in rows} == {
        "<urn:uuid:i>", "<urn:uuid:1>", "<urn:uuid:2>",
    }


def test_gzip_sniffed_by_magic_not_name(spark, tmp_path):
    (tmp_path / "misnamed.warc").write_bytes(gzip.compress(_archive()))
    assert read_warc(spark, str(tmp_path / "misnamed.warc")).count() == 3


def test_cli_raw_and_wet_mutually_exclusive(tmp_path):
    import pytest

    with pytest.raises(SystemExit):
        cli.main(["ingest-warc", "--input-path", "x", "--output-path", "y",
                  "--raw", "--wet"])
