"""The benchmark's serial stage tracer (`perfbench/stages.py`) times the
kernel's phases through `fastpath`'s tracer interface; its staged result
must equal `extract_document`'s on every page."""

from __future__ import annotations

from perfbench.stages import stage_costs
from test_fastpath import HOSTILE, _page_html


def test_stage_tracer_matches_extract_document():
    docs = [(f"u{k}", _page_html(k, "some text " * (k + 3), "en").encode())
            for k in range(4)]
    docs += [(f"h{k}", html) for k, html in enumerate(HOSTILE)]
    out = stage_costs(docs, reps=1)
    assert out["docs"] == len(docs)
    assert out["mismatches"] == 0
