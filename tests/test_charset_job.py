"""sniff_charsets over the mixed-encoding fixture (Spark side)."""
import pytest
from pyspark.sql import functions as F

from lexor_spark.job import sniff_charsets
from lexor_spark.pages import encoded_pages_df

EXPECT = {
    0: ("utf-8", "meta", "café"),
    1: ("windows-1251", "meta", "Привет"),
    2: ("shift_jis", "meta", "語"),
    3: ("gbk", "meta", "好"),
    4: ("utf-8-sig", "bom", "é"),
    5: ("windows-1252", "fallback", "é"),
    6: ("utf-8", "utf8-valid", ""),
}


@pytest.fixture(scope="module")
def sniffed(spark, sf_dir):
    pages = encoded_pages_df(spark, sf_dir)
    return {int(r["url"]): r for r in
            sniff_charsets(pages, partitions=4).collect()}


def test_every_variant_sniffs_to_ground_truth(sniffed):
    assert len(sniffed) >= 7 * 10
    for doc_id, row in sniffed.items():
        codec, source, marker = EXPECT[doc_id % 7]
        assert row["encoding"] == codec, (doc_id, row["encoding"])
        assert row["source"] == source, (doc_id, row["source"])
        if marker:
            assert marker in row["decoded_prefix"], (doc_id, marker)
        assert "�" not in row["decoded_prefix"], doc_id


def test_bom_stripped_from_decoded_text(sniffed):
    for doc_id, row in sniffed.items():
        if doc_id % 7 == 4:
            assert row["decoded_prefix"].startswith("<!doctype"), doc_id


def test_extraction_over_mixed_encodings_is_lossless(spark, sf_dir):
    """extract_pages end-to-end over non-UTF-8 pages: the per-variant
    marker must survive into the extracted main-content text (it sits
    inside <p> in <body>) — the crawl-realism property the sniffing
    decode gateway exists for."""
    from lexor_spark.job import extract_pages
    pages = encoded_pages_df(spark, sf_dir).limit(140)
    rows = {int(r["url"]): r for r in
            extract_pages(pages, partitions=4).collect()}
    assert rows and all(r.ok for r in rows.values())
    for doc_id, row in rows.items():
        marker = EXPECT[doc_id % 7][2]
        if marker:
            assert marker in row["text"], (doc_id, marker)
