"""WARC source: pure-stdlib record parser + binaryFile/mapInPandas scan.

The builder (`build_warc`) and the parser (`parse_warc`) are inverse at
the record level; the Spark path (`read_warc`) must reproduce the pages
table exactly.  No reference counterpart (SURVEY.md §2.3 sources row).
"""

import gzip

import pytest

from lexor_spark.warc import build_warc, parse_warc, read_warc

RECORDS = [
    ("http://a.example/x", "2024-01-02T03:04:05Z", b"<html><p>alpha</p></html>"),
    ("http://b.example/y", "2024-02-03T04:05:06Z", b"<html><p>beta</p></html>"),
    ("http://c.example/z", "2024-03-04T05:06:07Z", "café ☃".encode()),
]


def test_round_trip_plain():
    shard = build_warc(RECORDS)
    out = list(parse_warc(shard))
    assert len(out) == 3
    for rec, (url, ts, html) in zip(out, RECORDS):
        assert rec["url"] == url
        assert rec["warc_ts"] == ts
        assert rec["warc_type"] == "response"
        assert rec["http_status"] == "200"
        assert rec["html"] == html


def test_round_trip_gzip_members():
    # Common-Crawl layout: one gzip member per record, concatenated.
    shard = build_warc(RECORDS, compress=True)
    assert shard[:2] == b"\x1f\x8b"
    out = list(parse_warc(shard))
    assert [r["url"] for r in out] == [u for u, _, _ in RECORDS]
    assert [r["html"] for r in out] == [h for _, _, h in RECORDS]


def test_deterministic_bytes():
    assert build_warc(RECORDS) == build_warc(RECORDS)
    assert build_warc(RECORDS, compress=True) == build_warc(
        RECORDS, compress=True)


def test_truncated_tail_yields_prefix():
    shard = build_warc(RECORDS)
    # cut into the last record's payload: first two records must survive
    cut = shard[: len(shard) - 10]
    out = list(parse_warc(cut))
    assert [r["url"] for r in out] == [u for u, _, _ in RECORDS[:2]]


def test_inter_record_junk_resync():
    a = build_warc(RECORDS[:1])
    b = build_warc(RECORDS[1:2])
    out = list(parse_warc(a + b"JUNKJUNKJUNK" + b))
    assert [r["url"] for r in out] == [RECORDS[0][0], RECORDS[1][0]]


def test_non_response_records_parsed():
    head = ("WARC/1.0\r\n"
            "WARC-Type: warcinfo\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\n"
            "Content-Type: application/warc-fields\r\n"
            "Content-Length: 9\r\n\r\n").encode()
    shard = head + b"robots: x" + b"\r\n\r\n" + build_warc(RECORDS[:1])
    out = list(parse_warc(shard))
    assert [r["warc_type"] for r in out] == ["warcinfo", "response"]
    assert out[0]["html"] == b"robots: x"
    assert out[0]["http_status"] is None


def test_garbage_and_empty():
    assert list(parse_warc(b"")) == []
    assert list(parse_warc(b"not a warc at all")) == []
    assert list(parse_warc(gzip.compress(b"plain gz, no records"))) == []
    # corrupt gzip: magic bytes then trash
    assert list(parse_warc(b"\x1f\x8b\x00\x00trash")) == []


def test_header_folding_and_case():
    head = ("WARC/1.0\r\n"
            "warc-type: response\r\n"
            "WARC-Target-URI: http://fold.example/\r\n"
            " continued-path\r\n"
            "Content-Length: 4\r\n\r\n").encode()
    out = list(parse_warc(head + b"body" + b"\r\n\r\n"))
    assert out[0]["url"] == "http://fold.example/ continued-path"
    assert out[0]["html"] == b"body"  # no HTTP envelope → raw payload


@pytest.mark.parametrize("compress", [False, True])
def test_spark_read_warc(spark, tmp_path, compress):
    ext = "warc.gz" if compress else "warc"
    (tmp_path / f"s0.{ext}").write_bytes(
        build_warc(RECORDS[:2], compress=compress))
    (tmp_path / f"s1.{ext}").write_bytes(
        build_warc(RECORDS[2:], compress=compress))
    (tmp_path / "ignore.txt").write_bytes(b"not scanned")
    df = read_warc(spark, str(tmp_path))
    rows = {r.url: r for r in df.collect()}
    assert set(rows) == {u for u, _, _ in RECORDS}
    for url, ts, html in RECORDS:
        r = rows[url]
        assert bytes(r.html) == html
        assert r.http_status == "200"
        assert r.warc_ts.isoformat().startswith(ts[:10])


def test_spark_warc_to_extraction(spark, tmp_path):
    """End-to-end: WARC shard → pages schema → the extraction job."""
    from lexor_spark.job import extract_pages

    from pyspark.sql import functions as F

    (tmp_path / "s.warc.gz").write_bytes(build_warc(RECORDS, compress=True))
    pages = (read_warc(spark, str(tmp_path))
             .withColumn("lang", F.lit("en"))
             .select("url", "warc_ts", "html", "lang"))
    out = {r.url: r.text for r in extract_pages(pages).collect()}
    assert out["http://a.example/x"].strip() == "alpha"
    assert out["http://b.example/y"].strip() == "beta"
    assert "café" in out["http://c.example/z"]


# ---------------------------------------------------------------------------
# WET output (write side of the Common-Crawl round-trip)
# ---------------------------------------------------------------------------

def test_wet_roundtrip_through_parser(spark):
    """extract → WET shards → re-parse with the WARC parser: texts come
    back byte-for-byte as conversion records."""
    from lexor_spark.warc import parse_warc, wet_shards

    docs = spark.createDataFrame(
        [(f"http://ex/{i}", f"text body {i} — café {i}") for i in range(20)],
        ["url", "text"])
    shards = wet_shards(docs, shards=4).collect()
    assert sum(r.n_records for r in shards) == 20
    seen = {}
    for row in shards:
        for rec in parse_warc(bytes(row.wet)):
            assert rec["warc_type"] == "conversion"
            assert rec["content_type"] == "text/plain"
            seen[rec["url"]] = rec["html"].decode("utf-8")
    assert seen == {f"http://ex/{i}": f"text body {i} — café {i}"
                    for i in range(20)}


def test_wet_shards_deterministic(spark):
    """Byte-identical shard blobs under any input partitioning (shard
    membership by url hash, records sorted before packing)."""
    from lexor_spark.warc import wet_shards

    rows = [(f"http://d/{i}", f"t{i}") for i in range(50)]
    a = {r.shard: bytes(r.wet) for r in wet_shards(
        spark.createDataFrame(rows, ["url", "text"]).repartition(1),
        shards=4).collect()}
    b = {r.shard: bytes(r.wet) for r in wet_shards(
        spark.createDataFrame(rows, ["url", "text"]).repartition(11),
        shards=4).collect()}
    assert a == b


def test_write_wet_files(spark, tmp_path):
    from lexor_spark.warc import parse_warc, write_wet

    docs = spark.createDataFrame(
        [(f"http://w/{i}", f"payload {i}") for i in range(12)],
        ["url", "text"])
    n = write_wet(docs, str(tmp_path / "wet"), shards=3)
    files = sorted((tmp_path / "wet").glob("*.warc.wet.gz"))
    assert len(files) == n == 3
    total = sum(1 for f in files for _ in parse_warc(f.read_bytes()))
    assert total == 12


def test_wet_iri_urls_and_nulls_degrade(spark):
    """IRI (non-Latin) urls must round-trip; null text packs as empty;
    null urls are dropped, never task failures."""
    from lexor_spark.warc import parse_warc, wet_shards

    docs = spark.createDataFrame(
        [("http://пример.рф/x", "кириллица"),
         ("http://例え.jp/y", None),
         (None, "orphan")],
        "url string, text string")
    shards = wet_shards(docs, shards=2).collect()
    recs = {r["url"]: r["html"].decode("utf-8")
            for row in shards for r in parse_warc(bytes(row.wet))}
    assert recs == {"http://пример.рф/x": "кириллица", "http://例え.jp/y": ""}


def test_wet_duplicate_urls_stable_bytes(spark):
    """Re-fetched pages (same url, different text): shard bytes must
    still be partitioning-invariant (total sort key, stable sort)."""
    from lexor_spark.warc import wet_shards

    rows = [("http://dup/a", f"version {i}") for i in range(6)] + \
           [("http://other/b", "x")]
    mk = lambda parts: {r.shard: bytes(r.wet) for r in wet_shards(
        spark.createDataFrame(rows, ["url", "text"]).repartition(parts),
        shards=2).collect()}
    assert mk(1) == mk(7)


def test_warc_duplicate_urls_stable_bytes(spark):
    """Re-fetched pages (same url, no timestamp, different html): WARC
    shard bytes must be partitioning-invariant too (the packer's total
    sort key, stable sort)."""
    from lexor_spark.warc import warc_shards

    rows = [("http://dup/a", f"<p>version {i}</p>".encode())
            for i in range(6)] + [("http://other/b", b"<p>x</p>")]
    mk = lambda parts: {r.shard: bytes(r.warc) for r in warc_shards(
        spark.createDataFrame(rows, ["url", "html"]).repartition(parts),
        ts_col=None, shards=2).collect()}
    assert mk(1) == mk(7)


def test_duplicate_header_continuation_dropped():
    """A continuation line following a DUPLICATE header must be dropped
    with the duplicate (first occurrence wins), not folded into the
    first occurrence's value."""
    head = ("WARC/1.0\r\n"
            "warc-type: response\r\n"
            "WARC-Target-URI: http://first.example/\r\n"
            "WARC-Target-URI: http://second.example/\r\n"
            " evil-continuation\r\n"
            "Content-Length: 4\r\n\r\n").encode()
    out = list(parse_warc(head + b"body" + b"\r\n\r\n"))
    assert out[0]["url"] == "http://first.example/"


def test_warc_shards_distributed_roundtrip(spark, tmp_path):
    """warc_shards packs deterministically (byte-identical re-run) and
    the written shards read back to exactly the input records."""
    from lexor_spark.warc import warc_shards, write_warc, read_warc
    pages = spark.createDataFrame(
        [(f"https://s{i}.example/p{i}",
          f"<html><body><p>page {i}</p></body></html>".encode())
         for i in range(40)],
        ["url", "html"])
    a = {r.shard: bytes(r.warc)
         for r in warc_shards(pages, ts_col=None, shards=4).collect()}
    b = {r.shard: bytes(r.warc)
         for r in warc_shards(pages, ts_col=None, shards=4).collect()}
    assert a == b and len(a) == 4
    d = str(tmp_path / "shards")
    assert write_warc(pages, d, ts_col=None, shards=4) == 4
    back = read_warc(spark, d).select("url", "html").collect()
    want = {r.url: bytes(r.html) for r in pages.collect()}
    assert {r.url: bytes(r.html) for r in back} == want


def test_build_wat_deterministic_and_parseable():
    from lexor_spark.warc import build_wat, parse_warc
    recs = [("https://a.example/", "2024-01-01T00:00:00Z", '{"k":1}'),
            ("https://b.example/", "2024-01-02T00:00:00Z", '{"k":2}')]
    blob1 = build_wat(recs)
    blob2 = build_wat(recs)
    assert blob1 == blob2  # byte-identical re-run
    got = list(parse_warc(blob1))
    assert [r["warc_type"] for r in got] == ["metadata"] * 2
    assert got[0]["html"] == b'{"k":1}'
    assert got[0]["content_type"] == "application/json"


def test_wat_fused_matches_compositional(spark, sf_dir):
    """The fused one-parse WAT kernel must produce the same envelope as
    the compositional plan (extract_meta ⋈ extract_links + to_json) on
    every page — parsed-JSON equality (raw bytes may differ only in
    JSON escaping variants between Jackson and json.dumps)."""
    import json

    from lexor_spark.pages import pages_df
    from lexor_spark.warc import wat_payload_df
    pages = pages_df(spark, sf_dir).limit(120)
    fused = {r["url"]: json.loads(r["wat_json"])
             for r in wat_payload_df(pages, fused=True).collect()}
    comp = {r["url"]: json.loads(r["wat_json"])
            for r in wat_payload_df(pages, fused=False).collect()}
    assert fused.keys() == comp.keys()
    for url in fused:
        assert fused[url] == comp[url], url


def test_wat_shards_end_to_end(spark, sf_dir):
    import json

    from lexor_spark.pages import pages_df
    from lexor_spark.warc import parse_warc, wat_payload_df, wat_shards
    pages = pages_df(spark, sf_dir).limit(40)
    payloads = wat_payload_df(pages)
    rows = payloads.collect()
    assert rows and all(r["wat_json"] for r in rows)
    env = json.loads(rows[0]["wat_json"])["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == rows[0]["url"]
    html_md = env["Payload-Metadata"]["HTML-Metadata"]
    assert "Head" in html_md and isinstance(html_md["Links"], list)
    # every fixture page carries the nav links
    assert any(l["url"].endswith("/about") for l in html_md["Links"])
    shards = wat_shards(payloads, shards=4).collect()
    assert sum(s["n_records"] for s in shards) == len(rows)
    parsed = [r for s in shards for r in parse_warc(s["wat"])]
    assert len(parsed) == len(rows)


def test_revisit_records_digest_dedup(spark):
    from datetime import datetime

    from lexor_spark.warc import revisit_records

    t = [datetime(2026, 1, i + 1) for i in range(4)]
    caps = spark.createDataFrame(
        [("u", t[0], "d1"), ("u", t[1], "d1"),   # unchanged -> revisit
         ("u", t[2], "d2"),                       # changed -> response
         ("u", t[3], "d1"),                       # back to d1 -> revisit of t0
         ("v", t[0], "d1")],                      # same digest, other url
        "url string, ts timestamp, digest string")
    got = {(r.url, r.ts): r for r in revisit_records(caps).collect()}
    assert not got[("u", t[0])].is_revisit
    assert got[("u", t[1])].is_revisit
    assert got[("u", t[1])].refers_to_ts == t[0]
    assert not got[("u", t[2])].is_revisit
    assert got[("u", t[3])].is_revisit
    assert got[("u", t[3])].refers_to_ts == t[0]
    # revisit profile is same-URL: url v's first capture is a response
    assert not got[("v", t[0])].is_revisit
