"""Registry lint: `__spark_entry__.queries()` is the one list of gate
entries, and every other list of query names (the bench, the plan dump,
the sf-scaling sweep, the DuckDB oracles) refers into it.  No Spark
session is started."""

from __future__ import annotations

import ast
import importlib.util
import os

import pytest

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the driver window for round 6, in order: the five round-5 operators,
# the 17 relational rows missing from CORRECTNESS_r05.json, then the
# first 28 CORRECTNESS_r04.json entries not in CORRECTNESS_r05.json
WINDOW = (
    "bpe_merges_fast", "emb_from_text", "semantic_dedup_text",
    "rdfa_extract", "mixture_coverage",
    "shipping_priority", "region_volume", "latest_order_per_customer",
    "running_revenue", "rollup_status", "customers_no_urgent_orders",
    "event_type_matrix", "promo_revenue", "small_quantity_revenue",
    "order_count_distribution", "top_supplier", "rich_idle_customers",
    "late_order_priority", "big_orders", "hot_parts",
    "priority_customer_breadth", "corpus_stats",
    "pq_codes", "cdx_lookup", "pack_firstfit", "pagerank_links",
    "robots_filter_ua", "lr_calibration", "readability", "bm25_indexed",
    "heaps_law", "lsh_tuning", "lsh_recall", "article_stitch",
    "hreflang_clusters", "srcset_assets", "tfidf_keywords", "host_rank",
    "tokenize_pack", "hll_distinct", "fetch_schedule", "postings_index",
    "code_detect", "hyperball", "redirect_resolve", "soft404_detect",
    "crawl_traps", "alias_collapse", "http_headers", "mime_sniff",
)


def _load(relpath: str):
    path = os.path.join(REPO, relpath)
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_names_each_entry_once():
    src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    fn = next(n for n in ast.parse(src).body
              if isinstance(n, ast.FunctionDef) and n.name == "queries")
    keys = [k.value for d in ast.walk(fn) if isinstance(d, ast.Dict)
            for k in d.keys
            if isinstance(k, ast.Constant) and isinstance(k.value, str)]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    assert dups == []


def test_registry_size():
    assert len(entry.queries()) == 187


@pytest.mark.parametrize("names", [
    lambda: _load("bench.py").TIMED,
    lambda: _load("scripts/explain_plans.py").PLANS,
    lambda: _load("scripts/bench_sfscale.py").QUERIES,
    lambda: entry.oracle_sql(),
], ids=["bench.TIMED", "explain_plans.PLANS", "bench_sfscale.QUERIES",
        "oracle_sql"])
def test_name_lists_refer_into_the_registry(names):
    assert set(names()) - set(entry.queries()) == set()


def test_driver_window_is_round_6_and_oracled():
    assert tuple(entry.queries())[:50] == WINDOW
    assert set(WINDOW) - set(entry.oracle_sql()) == set()


def test_bench_reads_no_private_entry_functions():
    src = open(os.path.join(REPO, "bench.py")).read()
    assert "_entry._q_" not in src
