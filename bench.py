"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship workload is the Arrow-batched extraction job over the
Common-Crawl-shaped pages table (BASELINE.json ``north_rule``); the corpus
is tiled deterministically (``pages_df(repeat=...)``) so the extraction
action dominates Spark fixed costs.  Results are sunk with the ``noop``
datasource: full execution, zero driver collection — the measured time is
the distributed plan, not a ``collect()``.

Every other timed query is a ``__spark_entry__.queries()`` entry, looked
up by name from ``TIMED``: the bench times exactly the plans that the
oracle sweep and the plan lint check.

Extra keys beyond the contract (``docs_per_sec``, ``n_docs``, ``cpus``)
ride along for BENCH/BASELINE.md scaling bookkeeping.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEAT = int(os.environ.get("BENCH_REPEAT", "24"))

TIMED = ("text_features", "dedup_exact", "minhash_signature",
         "dedup_lsh_pairs", "span_dedup", "dup_clusters", "lm_score",
         "bpe_merges", "simhash", "cosine_topk", "ann_bucketed",
         "kmeans_clusters", "ann_ivf", "pq_codes", "ann_pq",
         "ann_ivfpq", "bm25_search", "dsir_weights",
         "temperature_sample", "tfidf_keywords", "pack_bins",
         "pack_firstfit", "cdx_diff", "fetch_schedule",
         "gopher_filter", "script_profile", "lm_buckets",
         "host_boilerplate", "robots_filter", "charset_sniff",
         "html_tables", "page_meta", "density_extract",
         "jsonld_extract", "ngram_counts", "url_bloom",
         "quality_verdict", "containment_pairs", "cluster_keepers",
         "mixture_plan", "crawl_traps", "revisit_records",
         "extract_eval", "redirect_resolve", "mime_sniff",
         "cache_plan", "sitemap_refetch", "extract_routed",
         "surt_keys", "c4_filter", "frontier_queue", "index_gate",
         "truncated_fetch", "mojibake_stats", "postings_index",
         "phrase_hits", "code_detect", "lang_consistency",
         "snippet_topk", "serp_dedup", "crawl_budget", "ranking_eval",
         "winnow_fp", "postings_merge", "crawl_loop",
         "crawl_loop_full", "hyperball", "readability", "zipf_fit",
         "heaps_law", "lsh_tuning", "article_stitch",
         "hreflang_clusters", "srcset_assets", "outline_extract",
         "microdata_extract", "feed_entries", "recrawl_schedule",
         "link_context", "minhash_est", "hits", "host_rank",
         "tokenize_pack", "extractor_diff", "lr_calibration",
         "corpus_card", "extract_consensus", "lsh_recall",
         "bm25_indexed", "collocations", "lr_auc", "doremi_weights",
         "cm_topk", "hll_distinct", "epoch_shuffle",
         "bpe_merges_fast", "emb_from_text", "semantic_dedup_text",
         "rdfa_extract", "mixture_coverage", "doremi_sample",
         "pricing_summary", "shipping_priority", "region_volume",
         "latest_order_per_customer", "event_sessions")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def make_spark(cpus: int):
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"lexor-spark-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("BENCH_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timed(make_df) -> float:
    """Steady-state wall time: one untimed warm-up run absorbs Janino
    codegen compilation (a per-query constant, seconds for the biggest
    plans — irrelevant at production scale); best-of-2 timed runs damp
    the sandbox's JVM-GC/shared-host jitter."""
    run_noop(make_df())
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run_noop(make_df())
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    from __spark_entry__ import queries
    from lexor_spark.job import css_select, extract_pages, partition_metrics
    from lexor_spark.pages import materialized_pages

    spark = make_spark(CPUS)
    timings: dict[str, float] = {}

    # -- flagship: Arrow-batched extraction over tiled pages ---------------
    # Materialized to parquet (untimed, cached across runs) so the timed
    # section is scan→exchange→extract — the shape of the production job.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")
    pages = materialized_pages(spark, SF_DIR, REPEAT, bench_dir)
    n_docs = pages.count()          # also warms the JVM/parquet footer cache
    run_noop(extract_pages(pages.limit(2000)))  # spin up Python workers
    t_extract = timed(lambda: extract_pages(pages))
    timings["extract_pages"] = t_extract

    timings["extract_metrics"] = timed(
        lambda: partition_metrics(extract_pages(pages)))

    timings["css_select"] = timed(
        lambda: css_select(pages, ["nav.nav a", "#main p",
                                   "main blockquote, article blockquote"]))

    # -- gate entries --------------------------------------------------------
    qs = queries()
    for n in TIMED:
        timings[n] = timed(lambda: qs[n](spark, SF_DIR))

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(SF_DIR),
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / t_extract, 1),
        "cpus": CPUS,
        "repeat": REPEAT,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
