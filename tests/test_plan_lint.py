"""Whole-gate physical-plan lint: scale-safety invariants every batch
query must satisfy, asserted mechanically instead of per-query.

Two properties are load-bearing at 100 TB and cheap to check on the
compiled plan string (no execution needed — ``executedPlan`` under AQE
returns the initial physical plan):

1. **No ``CartesianProduct``.**  The unbroadcast cross join is the one
   operator whose cost is quadratic in partition count × rows; nothing
   in the gate may compile to it.  (``BroadcastNestedLoopJoin Cross
   BuildRight`` is the *accepted* shape for joining a driver-bounded
   tiny side — 1-row stats, centroid tables — against the corpus and is
   deliberately not flagged.)

2. **No ``BatchEvalPython``.**  That node is the row-at-a-time Python
   UDF evaluator — the repo's contract (SURVEY.md §2.3, re-verified by
   grep in every verdict) is that Python crosses the boundary only
   through Arrow-batched shapes: ``MapInArrow`` / ``ArrowEvalPython`` /
   ``FlatMapGroupsInPandas`` / ``MapInPandas``.  Asserting it on the
   compiled plan catches any future regression no grep would (e.g. a
   builtin falling back to a Python UDF inside a helper).

Streaming entries are skipped (their gate callables execute a full
micro-batch run; their plans are pinned by tests/test_streaming.py).
Queries whose *construction* runs driver-side jobs (k-means/BPE/PQ
training collects — the canonical accepted shapes) still participate:
at sf0.001 construction is fast and their final plan is exactly what
ships.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# construction executes a streaming query end-to-end — out of scope here
SKIP_PREFIXES = ("stream_",)


def _gate_names():
    import __spark_entry__ as entry

    return [n for n in entry.queries()
            if not n.startswith(SKIP_PREFIXES)]


@pytest.fixture(scope="module")
def plans(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    out, errors = {}, {}
    for name in _gate_names():
        try:
            df = qs[name](spark, SF_DIR)
            out[name] = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # collected, asserted below
            errors[name] = repr(exc)
    return out, errors


def test_every_gate_query_compiles(plans):
    _, errors = plans
    assert not errors, f"gate queries failed to build: {errors}"


def test_no_cartesian_product_anywhere(plans):
    bad = {n for n, p in plans[0].items() if "CartesianProduct" in p}
    assert not bad, f"cartesian product in: {sorted(bad)}"


def test_no_row_at_a_time_python_udf(plans):
    bad = {n for n, p in plans[0].items() if "BatchEvalPython" in p}
    assert not bad, f"row-at-a-time Python UDF in: {sorted(bad)}"


def test_python_boundary_is_arrow_batched(plans):
    """Every plan that crosses into Python does so via an Arrow shape."""
    arrow_nodes = ("MapInArrow", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "AggregateInPandas")
    crossing = [n for n, p in plans[0].items()
                if any(a in p for a in arrow_nodes)]
    # the kernel families must be in that set — sanity that the lint
    # actually sees the Python boundary rather than trivially passing
    assert "extract_pages" in crossing
    assert "warc_extract" in crossing


# The page-kernel runner (`job._page_udf`) is the one place a per-page
# operator's batch loop lives.
RUNNER_ONLY = ("gc.disable", "RecordBatch.from_arrays")
RUNNER_HOMES = {("job.py", "_page_udf")}


def _runner_only_calls():
    """(file, top-level def, call) for every RUNNER_ONLY call in the
    package source."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "lexor_spark"
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for top in tree.body:
            for node in ast.walk(top):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)):
                    continue
                call = ast.unparse(node.func)
                if call.endswith(RUNNER_ONLY):
                    yield (path.name, getattr(top, "name", None), call)


def test_batch_loops_live_in_the_runner():
    """No operator hand-copies the GC switch or the batch build: both
    appear in the package only inside the runner."""
    calls = list(_runner_only_calls())
    assert {(f, d) for f, d, _ in calls} == RUNNER_HOMES, calls


# The md5-prefix integer hash is spelled once, in `textfns.md5_u32` and
# its DuckDB mirror `textfns.SQL.md5_u32`; every other module calls them.
MD5_PREFIX = ("F.substring(F.md5(", "substr(md5(")


def test_md5_prefix_lives_in_textfns():
    """No module but textfns spells the md5-prefix hash, docstrings
    included."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "lexor_spark"
    homes = {path.name for path in pkg.rglob("*.py")
             for spelling in MD5_PREFIX if spelling in path.read_text()}
    assert homes == {"textfns.py"}, sorted(homes)
