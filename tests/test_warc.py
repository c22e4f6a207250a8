"""WARC source round-trip: fixture pages -> WARC bytes -> Spark reader ->
identical pages; then straight into the mention pipeline."""

import datetime as dt

from kgner.sources.warc import parse_warc_bytes, read_warc, write_warc


def test_warc_pure_round_trip():
    recs = [
        ("https://a.example/1", dt.datetime(2025, 6, 1, 12, 0, 0), b"<p>hello</p>"),
        ("https://a.example/2", dt.datetime(2025, 6, 2, 0, 30, 0), b"<p>\xe4\xbd\xa0</p>"),
    ]
    back = parse_warc_bytes(write_warc(recs))
    assert back == recs


def test_warc_skips_non_response_and_garbage():
    blob = (
        b"WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: x\r\n"
        b"Content-Length: 2\r\n\r\nhi"
        b"\r\n\r\ngarbage bytes"
    )
    assert parse_warc_bytes(blob) == []


def test_warc_spark_reader_feeds_pipeline(spark, tmp_path, fx):
    # write fixture pages as WARC files (4 files), read back, compare
    pages = fx.pages[:40]
    d = tmp_path / "warcs"
    d.mkdir()
    for i in range(4):
        chunk = pages[i::4]
        (d / f"part{i}.warc").write_bytes(
            write_warc([(p["url"], p["warc_ts"].replace(tzinfo=None), p["html"]) for p in chunk])
        )
    df = read_warc(spark, str(d))
    got = {r["url"]: bytes(r["html"]) for r in df.collect()}
    assert len(got) == len(pages)
    for p in pages:
        assert got[p["url"]] == p["html"]

    # WARC -> extract -> sentences -> mentions works end to end
    from pyspark.sql import functions as F

    from kgner.functions.text import extract_text_udf, with_sentences
    from kgner.operators.mentions import detect_mentions

    aliases = spark.createDataFrame(
        list(fx.alias_map.items()), "alias_norm string, canonical_id string"
    )
    pages_df = df.select(
        "url", F.lit("en").alias("lang"), extract_text_udf("html").alias("text")
    )
    mentions = detect_mentions(spark, with_sentences(pages_df), aliases)
    assert mentions.count() > 0

def test_warc_fractional_date_and_missing_length():
    blob = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u1\r\n"
        b"WARC-Date: 2025-06-01T12:00:00.123456Z\r\nContent-Length: 4\r\n\r\nbody"
        b"\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u2\r\n"
        b"WARC-Date: 2025-06-01T00:00:00Z\r\n\r\nno-length-body"
    )
    from kgner.sources.warc import parse_warc_bytes

    recs = parse_warc_bytes(blob)
    assert len(recs) == 1  # record without Content-Length skipped, not fabricated
    url, ts, body = recs[0]
    assert url == "u1" and body == b"body"
    assert ts.year == 2025 and ts.microsecond == 123456
