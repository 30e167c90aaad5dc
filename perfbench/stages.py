"""Serial stage tracer: the kernel's per-document stages timed one by one
in the benchmark process, on the workload's own pages.

The stages are called in the order ``fastpath.fast_extract`` calls them,
after ``encoding.decode_html``, and their combined result is checked
against ``pipeline.extract_document`` for every page.  The time of
``extract_document`` not covered by a stage is the unattributed residue
(result-object set-up and the glue between stages).  The batch-build
cost is ``job._extract_batches_inner`` on one Arrow batch of the same
pages minus the ``extract_document`` calls it makes: ``to_pylist`` of the
input columns plus the build of the output record batch.
"""

from __future__ import annotations

import gc
import statistics
import time

import pyarrow as pa

__all__ = ["STAGES", "stage_costs"]

STAGES = ("decode", "parse", "meta", "select", "write")
_RESULT_FIELDS = ("text", "spans", "title", "description", "lang_attr",
                  "codes", "n_nodes", "truncated", "ok")


def _kernel():
    from lexor_spark.kernel import encoding, fastpath, pipeline
    from lexor_spark import job
    return encoding, fastpath, pipeline, job


def _staged(html: bytes, clock: list[int], enc, fp, max_chars: int) -> dict:
    """One document through the stages; adds each stage's ns to ``clock``."""
    now = time.perf_counter_ns
    t0 = now()
    text = enc.decode_html(html)[0]
    truncated = len(text) > max_chars
    if truncated:
        text = text[:max_chars]
    t1 = now()
    nodes, log, skipped = fp._parse_arrays(text)
    t2 = now()
    meta = fp._collect_meta_arrays(nodes)
    t3 = now()
    main_idx = fp._select_main_arrays(nodes)
    t4 = now()
    out, spans = fp._write_arrays(nodes, main_idx)
    spans = [s.as_tuple() for s in spans]
    t5 = now()
    for k, (a, b) in enumerate(((t0, t1), (t1, t2), (t2, t3), (t3, t4), (t4, t5))):
        clock[k] += b - a
    return {"text": out, "spans": spans, "title": meta.get("title"),
            "description": meta.get("description"), "lang_attr": meta.get("lang"),
            "codes": [e.code for e in log], "n_nodes": len(nodes) + skipped + 1,
            "truncated": truncated, "ok": True}


def stage_costs(docs: list[tuple[str, bytes]], reps: int = 5) -> dict:
    """Median-of-``reps`` stage costs over ``docs`` ((url, html) pairs).

    Returns per-document and per-KB costs in microseconds, the sample
    size, and ``mismatches``: documents whose staged result differs from
    ``extract_document``'s."""
    enc, fp, pl, job = _kernel()
    n = len(docs)
    kb = sum(len(h) for _, h in docs) / 1024
    batch = pa.RecordBatch.from_pydict(
        {"url": [u for u, _ in docs], "html": [h for _, h in docs]},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]))

    mismatches = 0
    for url, html in docs:
        want = pl.extract_document(html, url)
        try:
            got = _staged(html, [0] * len(STAGES), enc, fp, pl.MAX_CHARS)
            same = all(got[f] == getattr(want, f) for f in _RESULT_FIELDS)
        except Exception:  # the pipeline turns a raising page into ok=False
            same = not want.ok
        mismatches += not same

    stage_ns: list[list[int]] = [[] for _ in STAGES]
    whole_ns: list[int] = []
    build_ns: list[int] = []
    now = time.perf_counter_ns
    gc_was_enabled = gc.isenabled()
    gc.disable()  # as in the batch UDF
    try:
        for rep in range(reps):
            # each page runs staged and whole back to back, in alternating
            # order, so drift and cache warmth fall on both sides alike
            clock, whole = [0] * len(STAGES), 0
            for url, html in docs:
                if rep % 2:
                    t0 = now()
                    pl.extract_document(html, url)
                    whole += now() - t0
                _staged(html, clock, enc, fp, pl.MAX_CHARS)
                if not rep % 2:
                    t0 = now()
                    pl.extract_document(html, url)
                    whole += now() - t0
            for k, v in enumerate(clock):
                stage_ns[k].append(v)
            whole_ns.append(whole)
            # the batch loop times each extract_document call itself
            # (``kernel_us``, floored to whole microseconds)
            t0 = now()
            kernel_us = sum(sum(b.column("kernel_us").to_pylist())
                            for b in job._extract_batches_inner(iter([batch])))
            build_ns.append(now() - t0 - kernel_us * 1000)
    finally:
        if gc_was_enabled:
            gc.enable()

    def per_doc(ns: list[int]) -> float:
        return statistics.median(ns) / 1000 / n

    out = {f"{s}_us_per_doc": per_doc(stage_ns[k]) for k, s in enumerate(STAGES)}
    whole = per_doc(whole_ns)
    out.update({
        "serial_us_per_doc": whole,
        "unattributed_us_per_doc": per_doc(
            [w - sum(st[r] for st in stage_ns) for r, w in enumerate(whole_ns)]),
        "batch_build_us_per_doc": per_doc(build_ns),
        "parse_us_per_kb": statistics.median(stage_ns[1]) / 1000 / kb,
        "write_us_per_kb": statistics.median(stage_ns[4]) / 1000 / kb,
        "docs": n, "kb": kb, "reps": reps, "mismatches": mismatches,
    })
    return out
