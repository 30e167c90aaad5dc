"""PDF extraction job: binary PDF column → text per document.

Same architecture as the HTML job (`lexor_spark/job.py`): repartition
on url-hash, one fused ``mapInArrow`` UDF, cyclic GC off,
error rows instead of task failures.  The kernel is
`lexor_spark.kernel.pdftext` (pure Python + stdlib zlib; subset
documented there).

The synthetic PDF corpus is generated distributed (mapInPandas over
``documents``) as a pure function of (doc_id, text) — deterministic
bytes on every run, so extraction results are pinned by tests.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from lexor_spark.job import _page_udf, _salted_pages
from lexor_spark.kernel.pdftext import build_simple_pdf, extract_pdf_text

__all__ = ["pdf_pages_df", "extract_pdfs", "PDF_OUTPUT_SCHEMA"]

_PDF_ARROW = pa.schema([
    ("url", pa.string()), ("text", pa.string()), ("n_pages", pa.int32()),
    ("n_streams", pa.int32()), ("n_bytes_in", pa.int64()),
    ("ok", pa.bool_()), ("err", pa.string()),
])
PDF_OUTPUT_SCHEMA = from_arrow_schema(_PDF_ARROW)


def pdf_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (url, warc_ts, pdf binary) table from ``documents``.
    Each document's text becomes a wrapped-line single-page PDF; even
    doc_ids are FlateDecode-compressed, odd ones raw — both kernel paths
    get continuous coverage."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "source")

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, blobs = [], []
            for doc_id, text, source in zip(pdf["doc_id"], pdf["text"],
                                            pdf["source"]):
                lines = [text[i:i + 80] for i in range(0, min(len(text), 4000), 80)]
                blobs.append(build_simple_pdf(
                    [f"Document {doc_id}"] + lines,
                    compress=(doc_id % 2 == 0)))
                urls.append(f"https://site{doc_id % 97}.example/{source}/d{doc_id}.pdf")
            yield pd.DataFrame({"url": urls, "pdf": blobs})

    return docs.mapInPandas(_gen, "url string, pdf binary")


def _pdf_page(url, blob):
    res = extract_pdf_text(bytes(blob) if blob is not None else b"")
    return [(url, res.text, res.n_pages, res.n_streams,
             len(blob) if blob is not None else 0, res.ok, res.err)]


_extract_pdf_batches = _page_udf(_PDF_ARROW, _pdf_page)


def extract_pdfs(pdfs: DataFrame,
                 partitions: Optional[int] = None) -> DataFrame:
    """(url, pdf) → extracted text, url-hash repartitioned +
    Arrow-batched like the HTML job."""
    salted = _salted_pages(pdfs, partitions=partitions, cols=("url", "pdf"))
    return salted.mapInArrow(_extract_pdf_batches, PDF_OUTPUT_SCHEMA)
