"""Traced run: spans, the subtraction ladder and the per-layer ledger.

Spans are recorded by the benchmark around its calls into the program;
each one labels the Spark jobs it launches (job description plus the
``perfbench.span`` local property), so after the run the event log's jobs
and stages become child spans.  Spans stay in memory until ``write``.

The ladder runs one input through five cumulative plans, each ending in
the ``noop`` sink except the last:

    scan      pages.select(url, html)
    salt      + the salted exchange (``job._salted_pages``)
    handoff   + an identity ``mapInArrow`` (the JVM<->Python Arrow boundary)
    kernel    ``job.extract_pages`` (the extraction kernel in place of identity)
    sink      + a parquet sink instead of ``noop``

and a layer's ``wall_s`` is its rung's median wall minus the previous
rung's.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Iterator

from perfbench.eventlog import SPAN_PROPERTY, EventLog, Job, median, quantile

__all__ = ["Tracer", "RUNGS", "ladder", "layer_metrics", "commit_metrics",
           "identity_batches"]

RUNGS = ("scan", "salt", "handoff", "kernel", "sink")


def identity_batches(batches: Iterator) -> Iterator:
    yield from batches


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent, run id."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _label(self, rec: dict | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(f"perfbench:{rec['name']}" if rec else None)
            self.sc.setLocalProperty(SPAN_PROPERTY, rec["span_id"] if rec else None)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"span_id": f"{self.run_id}:{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["span_id"] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._label(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def add_event_log(self, log: EventLog) -> None:
        """Spark jobs as children of the span that launched them, and
        their stages as children of the jobs."""
        ours = {s["span_id"] for s in self.spans}
        for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
            if job.span not in ours:
                continue
            jid = f"{self.run_id}:job{job.job_id}"
            self.spans.append({
                "span_id": jid, "name": f"spark.job.{job.job_id}",
                "parent": job.span, "run_id": self.run_id,
                "start": job.submit_ms / 1000, "end": job.end_ms / 1000,
                "description": job.description, "succeeded": job.succeeded,
                "writes": log.is_write(job)})
            for st in log.stages_of([job]):
                runs = st.task_run_s()
                self.spans.append({
                    "span_id": f"{jid}:stage{st.stage_id}.{st.attempt}",
                    "name": f"spark.stage.{st.stage_id}", "parent": jid,
                    "run_id": self.run_id, "start": st.submit_ms / 1000,
                    "end": st.done_ms / 1000, "stage_name": st.name,
                    "tasks": len(st.tasks), "failed_tasks": sum(t.failed for t in st.tasks),
                    "task_s_p50": median(runs), "task_s_max": max(runs, default=0.0),
                    "input_mb": st.total("input_bytes") / 1e6,
                    "shuffle_write_mb": st.total("shuffle_write_bytes") / 1e6,
                    "shuffle_read_mb": st.total("shuffle_read_bytes") / 1e6,
                    "fetch_wait_s": st.total("fetch_wait_ms") / 1000,
                    "to_python_mb": st.total("py_sent_bytes") / 1e6,
                    "from_python_mb": st.total("py_returned_bytes") / 1e6,
                    "output_mb": st.total("output_bytes") / 1e6})

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def ladder(pages, tracer: Tracer, out_dir: str, reps: int) -> dict[str, list[float]]:
    """Wall seconds of each rung, ``reps`` times, in rotating order."""
    from lexor_spark import job

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def salted():
        return job._salted_pages(pages, 256, None)

    def sink() -> None:
        job.extract_pages(pages).write.mode("overwrite").parquet(out_dir)

    plans = {
        "scan": lambda: noop(pages.select("url", "html")),
        "salt": lambda: noop(salted()),
        "handoff": lambda: noop(salted().mapInArrow(
            identity_batches, "url string, html binary")),
        "kernel": lambda: noop(job.extract_pages(pages)),
        "sink": sink,
    }
    walls: dict[str, list[float]] = {r: [] for r in RUNGS}
    for rep in range(reps):
        for rung in RUNGS[rep % len(RUNGS):] + RUNGS[:rep % len(RUNGS)]:
            with tracer.span(f"ladder.{rung}", rep=rep) as sp:
                t0 = time.perf_counter()
                plans[rung]()
                walls[rung].append(time.perf_counter() - t0)
            sp["wall_s"] = walls[rung][-1]
    shutil.rmtree(out_dir, ignore_errors=True)
    return walls


def _rung_stages(log: EventLog, tracer: Tracer, rung: str) -> list[list]:
    """The stages each repetition of ``rung`` ran."""
    return [log.stages_of(log.jobs_of(s["span_id"]))
            for s in tracer.spans if s["name"] == f"ladder.{rung}"]


def layer_metrics(log: EventLog, tracer: Tracer,
                  walls: dict[str, list[float]]) -> dict[str, float]:
    """The ladder's per-layer metrics (medians over repetitions)."""
    med = {r: median(walls[r]) for r in RUNGS}
    m = {"scan.wall_s": med["scan"]}
    for prev, rung in zip(RUNGS, RUNGS[1:]):
        m[f"{rung}.wall_s"] = med[rung] - med[prev]

    def over_reps(rung: str, fn) -> float:
        return median([fn(stages) for stages in _rung_stages(log, tracer, rung)])

    def total(stages, attr: str) -> int:
        return sum(st.total(attr) for st in stages)

    def reduce_reads(stages) -> list[int]:
        return [t.shuffle_read_bytes for st in stages for t in st.tasks
                if st.total("shuffle_read_bytes") and not t.failed]

    def kernel_runs(stages) -> list[float]:
        return [r for st in stages if st.total("py_sent_bytes") for r in st.task_run_s()]

    m["salt.shuffle_write_mb"] = over_reps(
        "salt", lambda s: total(s, "shuffle_write_bytes") / 1e6)
    m["salt.fetch_wait_s"] = over_reps("salt", lambda s: total(s, "fetch_wait_ms") / 1000)
    m["salt.partition_mb_max_over_median"] = over_reps(
        "salt", lambda s: max(reduce_reads(s), default=0) / (median(reduce_reads(s)) or 1))
    m["handoff.to_python_mb"] = over_reps("kernel", lambda s: total(s, "py_sent_bytes") / 1e6)
    m["handoff.from_python_mb"] = over_reps(
        "kernel", lambda s: total(s, "py_returned_bytes") / 1e6)
    m["kernel.task_s_p50"] = over_reps("kernel", lambda s: median(kernel_runs(s)))
    m["kernel.task_s_max"] = over_reps("kernel", lambda s: max(kernel_runs(s), default=0.0))
    m["sink.output_mb"] = over_reps("sink", lambda s: total(s, "output_bytes") / 1e6)
    return m


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            covered += b - max(a, end)
            end = b
    return covered


def commit_metrics(log: EventLog, span: dict) -> dict[str, float]:
    """Split one ``run_job`` call into its file-writing jobs, the other
    jobs (the ``_group_record`` re-read of the written files) and driver
    time not covered by any Spark job (which includes the marker write)."""
    jobs: list[Job] = log.jobs_of(span["span_id"])
    writes = [(j.submit_ms / 1000, j.end_ms / 1000) for j in jobs if log.is_write(j)]
    others = [(j.submit_ms / 1000, j.end_ms / 1000) for j in jobs if not log.is_write(j)]
    return {
        "commit.write_job_s": sum(b - a for a, b in writes),
        "commit.lineage_job_s": sum(b - a for a, b in others),
        "commit.driver_s": (span["end"] - span["start"]) - _covered(writes + others),
    }


def iqr(values: list[float]) -> float:
    return quantile(values, 0.75) - quantile(values, 0.25)


def write_outputs(trace_dir: str, tracer: Tracer, ledger: dict) -> None:
    os.makedirs(trace_dir, exist_ok=True)
    tracer.write(os.path.join(trace_dir, "spans.jsonl"))
    with open(os.path.join(trace_dir, "ledger.json"), "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
