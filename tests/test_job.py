"""Pipeline-level Spark tests: byte-identity vs serial oracle, resume,
metrics — the table-level tests the reference never had (SURVEY.md §5)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from lexor_spark.job import (_metrics_aggs, committed_groups, extract_pages,
                             partition_metrics, read_lineage, run_job)
from lexor_spark.kernel import extract_document
from lexor_spark.pages import pages_df


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = pages_df(spark, sf_dir).limit(150).cache()
    df.count()
    return df


def test_pages_schema(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert types["html"] == "binary"
    assert types["warc_ts"] == "timestamp"


def test_pages_deterministic(spark, sf_dir):
    a = pages_df(spark, sf_dir).select("url", F.md5(F.col("html").cast("string")).alias("h"))
    b = pages_df(spark, sf_dir).select("url", F.md5(F.col("html").cast("string")).alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_byte_identity_vs_serial_oracle(pages):
    """north_rule: byte-identical extracted text per url."""
    out = {r.url: (r.text, r.spans) for r in
           extract_pages(pages, partitions=8).collect()}
    src = {r.url: bytes(r.html) for r in pages.collect()}
    assert set(out) == set(src)
    for url, html in src.items():
        exp = extract_document(html, url)
        got_text, got_spans = out[url]
        assert got_text == exp.text, f"text mismatch for {url}"
        assert [(s.start, s.end, s.path) for s in got_spans] == exp.spans


def test_no_error_rows(pages):
    out = extract_pages(pages).cache()
    assert out.filter(~F.col("ok")).count() == 0
    assert out.filter(F.col("n_chars_out") > 0).count() == out.count()


def test_metrics(pages):
    out = extract_pages(pages)
    m = partition_metrics(out).agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_errors").alias("errs")).collect()[0]
    assert m.docs == pages.count()
    assert m.errs == 0


def _assert_observed(record, rows):
    """The seven aggregates the write observed equal `_metrics_aggs`
    over the committed ``rows``."""
    back = rows.agg(*_metrics_aggs("n_rows")).collect()[0].asDict()
    assert {k: record[k] for k in back} == \
        {k: int(v or 0) for k, v in back.items()}


def _assert_marker_observed(spark, out_dir, g):
    """Group ``g``'s marker holds the aggregates of its group dir."""
    with open(os.path.join(out_dir, "_lineage", f"group-{g}.json")) as fh:
        record = json.load(fh)
    _assert_observed(record,
                     spark.read.parquet(os.path.join(out_dir, f"group={g}")))


def test_resume_after_kill(spark, pages, tmp_path):
    out_dir = str(tmp_path / "out")
    r1 = run_job(spark, pages, out_dir, n_groups=4, max_groups=2,
                 partitions=8)
    assert len(r1["processed"]) == 2 and not r1["complete"]
    assert committed_groups(out_dir) == {p["group"] for p in r1["processed"]}
    # a marker written before the lineage record lost its salt_buckets
    # field still counts as committed (r2 skips its group) and still
    # reads as lineage
    old = os.path.join(out_dir, "_lineage",
                       f"group-{r1['processed'][0]['group']}.json")
    with open(old) as fh:
        record = json.load(fh)
    with open(old, "w") as fh:
        json.dump({**record, "salt_buckets": 256}, fh)
    r2 = run_job(spark, pages, out_dir, n_groups=4, partitions=8)
    assert r2["complete"]
    assert sorted(r2["skipped_committed"]) == sorted(
        p["group"] for p in r1["processed"])
    total = spark.read.parquet(out_dir + "/group=*")
    assert total.count() == pages.count()
    assert total.select("url").distinct().count() == pages.count()
    # idempotent third run
    r3 = run_job(spark, pages, out_dir, n_groups=4, partitions=8)
    assert r3["processed"] == [] and r3["complete"]
    # each marker's observed record is what its group dir holds
    for g in range(4):
        _assert_marker_observed(spark, out_dir, g)
    # lineage table: one row per committed group, conserved row count
    lin = read_lineage(spark, out_dir)
    assert lin.count() == 4
    got = {r["group"]: r for r in lin.collect()}
    assert set(got) == {0, 1, 2, 3}
    assert sum(r["n_rows"] for r in got.values()) == pages.count()
    assert all(r["bytes_in"] > 0 and r["kernel_us_total"] > 0
               for r in got.values())


@pytest.fixture(scope="module")
def site_pages(spark):
    """20,000 tiny pages over 97 hosts, as a crawl slice lands them."""
    df = spark.range(20_000).select(
        F.concat(F.lit("https://site"), (F.col("id") % 97).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
        F.lit("<p>x</p>").cast("binary").alias("html")).cache()
    df.count()
    return df


def _spread(extracted):
    """(non-empty partitions, max/mean docs per non-empty partition)."""
    n = [r.n_docs for r in partition_metrics(extracted).collect()]
    return len(n), max(n) / (sum(n) / len(n))


def test_exchange_spreads_table_and_group(site_pages):
    """The kernel exchange is keyed on the url itself: the whole table
    fills every partition evenly, and so does one ``run_job`` group,
    whose pages all share ``pmod(xxhash64(url), n_groups)``."""
    n_parts, ratio = _spread(extract_pages(site_pages, partitions=64))
    assert n_parts == 64 and ratio <= 1.3
    group = site_pages.filter(F.pmod(F.xxhash64("url"), F.lit(8)) == 0)
    n_parts, _ = _spread(extract_pages(group, partitions=64))
    assert n_parts == 64


def test_salted_pages_positional_call_matches_kernel(site_pages):
    """The benchmark ladder calls ``_salted_pages(df, 256, None)``; it
    must place every url where ``extract_pages`` does, so the ladder's
    exchange rung times the kernel's own exchange."""
    from lexor_spark.job import _salted_pages

    def placement(df):
        return {r.url: r.p for r in
                df.select("url", F.spark_partition_id().alias("p")).collect()}

    assert placement(_salted_pages(site_pages, 256, None)) == \
        placement(extract_pages(site_pages))


def test_hostile_rows_become_data(spark):
    hostile = spark.createDataFrame(
        [("u1", bytearray(b"\xff\xfegarbage<not html")),
         ("u2", bytearray(b"")),
         ("u3", None),
         ("u4", bytearray(("<div>" * 2000 + "deep").encode()))],
        "url string, html binary")
    rows = {r.url: r for r in
            extract_pages(hostile, partitions=2).collect()}
    assert all(r.ok for r in rows.values())
    assert rows["u4"].text == "deep"
    assert rows["u2"].n_chars_out == 0 and rows["u3"].n_chars_out == 0


def test_heavy_tail_skew(spark, sf_dir):
    """FIXTURES.md §4 size tail: ~1% giant pages must neither fail nor
    concentrate on one partition, and stay byte-identical to the serial
    oracle."""
    from lexor_spark.kernel.pipeline import extract_document

    pages = pages_df(spark, sf_dir, heavy_tail=True)
    big = pages.filter(F.length("html") > 100_000)
    n_big = big.count()
    assert n_big >= 3  # the tail exists

    out = extract_pages(pages, partitions=16)
    rows = out.collect()
    assert all(r.ok for r in rows)

    # url-hash spread: no partition holds more than half the corpus
    from lexor_spark.job import partition_metrics
    m = partition_metrics(extract_pages(pages, partitions=16)).collect()
    total = sum(r.n_docs for r in m)
    assert max(r.n_docs for r in m) < total / 2

    # byte-identity holds for a giant page too
    sample = big.limit(1).collect()[0]
    assert extract_document(sample.html, sample.url).text == \
        {r.url: r.text for r in rows}[sample.url]


@pytest.mark.parametrize("kill", ["data_without_marker", "orphaned_tmp_marker"])
def test_resume_redoes_unsealed_group(spark, pages, tmp_path, kill):
    """A kill after a group's data files landed but before its marker
    was sealed: the group dir holds data files (here also a stray copy
    of one, as a killed overwrite may leave) and no marker, or the
    marker is a half-written ``group-<g>.json.tmp``.  The group is not
    committed, `read_lineage` ignores the ``.tmp``, and resume redoes
    exactly that group with every url once."""
    out_dir, g = str(tmp_path / "out"), 2
    run_job(spark, pages, out_dir, n_groups=4, partitions=8)
    marker = os.path.join(out_dir, "_lineage", f"group-{g}.json")
    with open(marker) as fh:
        sealed = fh.read()
    os.remove(marker)
    if kill == "data_without_marker":
        data = os.path.join(out_dir, f"group={g}")
        part = next(n for n in sorted(os.listdir(data)) if n.startswith("part-"))
        shutil.copy(os.path.join(data, part), os.path.join(data, "part-99999-" + part))
    else:
        with open(marker + ".tmp", "w") as fh:
            fh.write(sealed[:len(sealed) // 2])
    assert committed_groups(out_dir) == {0, 1, 3}
    assert {r["group"] for r in read_lineage(spark, out_dir).collect()} == {0, 1, 3}
    r = run_job(spark, pages, out_dir, n_groups=4, partitions=8)
    assert [p["group"] for p in r["processed"]] == [g] and r["complete"]
    assert sorted(r["skipped_committed"]) == [0, 1, 3]
    assert not os.path.exists(marker + ".tmp")
    total = spark.read.parquet(out_dir + "/group=*")
    assert total.count() == pages.count()
    assert total.select("url").distinct().count() == pages.count()
    assert read_lineage(spark, out_dir).count() == 4
    _assert_marker_observed(spark, out_dir, g)


# Runs `run_job` in its own local[2,2] session (a task may fail once)
# with a pass after the kernel that lets every row through and then
# fails the first attempt of partitions 0 and 3, leaving a flag file.
_RETRY_CHILD = """
import os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from lexor_spark import job
from lexor_spark.pages import pages_df

sf_dir, out_dir, flags = sys.argv[1:]
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false").getOrCreate())
extract = job.extract_pages

def fail_first_attempt(batches):
    yield from batches
    ctx = TaskContext.get()
    if ctx.partitionId() % 3 == 0 and ctx.attemptNumber() == 0:
        open(os.path.join(flags, f"{ctx.stageId()}-{ctx.partitionId()}"), "w").close()
        raise RuntimeError("forced first-attempt failure")

job.extract_pages = lambda pages, partitions=None: extract(
    pages, partitions=partitions).mapInArrow(fail_first_attempt,
                                             job.OUTPUT_SCHEMA)
job.run_job(spark, pages_df(spark, sf_dir).limit(150), out_dir,
            n_groups=2, partitions=6)
spark.stop()
"""


def test_observed_record_counts_retried_task_once(spark, sf_dir, tmp_path):
    """A task whose first attempt failed after its rows passed the
    observation counts once: each marker equals its group's rows."""
    out_dir, flags = str(tmp_path / "out"), tmp_path / "failed_attempts"
    flags.mkdir()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        filter(None, [root, os.environ.get("PYTHONPATH")]))}
    subprocess.run([sys.executable, "-c", _RETRY_CHILD, sf_dir, out_dir,
                    str(flags)], env=env, check=True, timeout=600,
                   capture_output=True)
    # partitions 0 and 3 of both groups' write failed once, then passed
    assert sorted(int(n.split("-")[1]) for n in os.listdir(flags)) == \
        [0, 0, 3, 3]
    assert committed_groups(out_dir) == {0, 1}
    for g in (0, 1):
        _assert_marker_observed(spark, out_dir, g)


def test_read_lineage_empty_dir(spark, tmp_path):
    """Zero committed groups is a valid state: empty DataFrame, not a
    missing-path crash."""
    lin = read_lineage(spark, str(tmp_path / "never_ran"))
    assert lin.count() == 0
    assert "group" in lin.columns and "n_rows" in lin.columns


def test_resume_table_commit(spark, pages):
    """Catalog-table commit variant (the Iceberg-snapshot shape): kill
    after 2 of 4 group appends, resume completes the rest, committed
    set = distinct group values, rows conserve, third run is a no-op."""
    from lexor_spark.job import committed_groups_table, run_job_table

    table = "sg_test_extract"
    spark.sql(f"drop table if exists {table}")
    try:
        r1 = run_job_table(spark, pages, table, n_groups=4, max_groups=2,
                           partitions=8)
        assert len(r1["processed"]) == 2 and not r1["complete"]
        assert committed_groups_table(spark, table) == \
            {p["group"] for p in r1["processed"]}
        r2 = run_job_table(spark, pages, table, n_groups=4, partitions=8)
        assert r2["complete"]
        assert sorted(r2["skipped_committed"]) == sorted(
            p["group"] for p in r1["processed"])
        total = spark.table(table)
        assert total.count() == pages.count()
        assert total.select("url").distinct().count() == pages.count()
        assert total.select("group").distinct().count() == 4
        for p in r1["processed"] + r2["processed"]:
            _assert_observed(p, total.filter(F.col("group") == p["group"]))
        r3 = run_job_table(spark, pages, table, n_groups=4, partitions=8)
        assert r3["processed"] == [] and r3["complete"]
    finally:
        spark.sql(f"drop table if exists {table}")


def test_table_commit_empty_groups_complete(spark, pages):
    """A group no url hashes to must not leave the job pending forever:
    work list = non-empty groups, complete once those commit."""
    from lexor_spark.job import run_job_table

    table = "sg_test_sparse"
    spark.sql(f"drop table if exists {table}")
    try:
        # 64 groups over 150 urls -> some groups are certainly empty
        r = run_job_table(spark, pages, table, n_groups=64, partitions=8)
        assert r["complete"]
        assert spark.table(table).count() == pages.count()
        r2 = run_job_table(spark, pages, table, n_groups=64, partitions=8)
        assert r2["processed"] == [] and r2["complete"]
    finally:
        spark.sql(f"drop table if exists {table}")


def test_table_create_clears_stale_location(spark, pages):
    """A kill in the middle of a create leaves the managed location on
    disk with no catalog entry; the next run clears it and creates the
    table, with no manual cleanup."""
    import os
    from urllib.parse import urlparse

    from lexor_spark.job import run_job_table

    table = "sg_test_stale_loc"
    spark.sql(f"drop table if exists {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(warehouse, table, "group=0")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-00000.parquet"), "wb") as fh:
        fh.write(b"partial write from a killed create")
    assert not spark.catalog.tableExists(table)
    try:
        r = run_job_table(spark, pages, table, n_groups=4, partitions=8)
        assert r["complete"]
        assert spark.table(table).count() == pages.count()
        # the first group's observed frame ran again after the refused
        # create; its record still counts its rows once
        for p in r["processed"]:
            _assert_observed(p, spark.table(table)
                             .filter(F.col("group") == p["group"]))
    finally:
        spark.sql(f"drop table if exists {table}")
