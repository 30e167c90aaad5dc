"""The event-log reader on a small recorded log.

``testdata/eventlog_small.json`` is a real Spark 4.1 event log, recorded
at ``local[nproc]`` by ``testdata/record_eventlog.py`` and trimmed of the
environment event.  It holds four labelled spans:

* ``shuffle`` — ``range(2000).repartition(4)`` through an identity
  ``mapInArrow`` into the ``noop`` sink: a map stage that writes shuffle
  and a 4-task reduce stage that reads it and talks to Python;
* ``write`` — a parquet write of 100 rows;
* ``fail`` — a ``mapInArrow`` that raises: one failed task, failed job;
* ``collect`` — an unlabelled-by-SQL RDD action.

Run with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os

from perfbench.eventlog import EventLog, median, quantile
from perfbench.ledger import _covered

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "testdata", "eventlog_small.json")


def _log() -> EventLog:
    return EventLog.read(LOG)


def test_jobs_carry_span_and_description():
    log = _log()
    spans = {j.span for j in log.jobs.values()}
    assert {"shuffle", "write", "fail", "collect"} <= spans
    for job in log.jobs.values():
        if job.span is not None:
            assert job.description == f"perfbench:{job.span}"
        assert job.end_ms >= job.submit_ms > 0


def test_shuffle_stages_bytes_and_python_traffic():
    log = _log()
    stages = log.stages_of(log.jobs_of("shuffle"))
    writers = [st for st in stages if st.total("shuffle_write_bytes")]
    readers = [st for st in stages if st.total("shuffle_read_bytes")]
    assert writers and readers
    assert (sum(st.total("shuffle_write_bytes") for st in writers)
            == sum(st.total("shuffle_read_bytes") for st in readers))
    (py,) = [st for st in stages if st.total("py_sent_bytes")]
    assert len(py.tasks) == 4
    assert py.total("py_returned_bytes") > 0
    assert all(t.fetch_wait_ms >= 0 for t in py.tasks)
    runs = py.task_run_s()
    assert max(runs) >= median(runs) >= min(runs) >= 0
    assert all(st.done_ms >= st.submit_ms > 0 for st in stages)


def test_failed_task_and_job():
    log = _log()
    failing = log.jobs_of("fail")
    assert failing and not any(j.succeeded for j in failing)
    assert log.failed_tasks(failing) == 1
    assert log.failed_tasks(log.jobs_of("shuffle")) == 0
    assert log.failed_tasks() == 1


def test_write_jobs_are_told_apart():
    log = _log()
    assert any(log.is_write(j) for j in log.jobs_of("write"))
    assert not any(log.is_write(j) for j in log.jobs_of("shuffle"))
    assert not any(log.is_write(j) for j in log.jobs_of("collect"))
    out = sum(st.total("output_bytes") for st in log.stages_of(log.jobs_of("write")))
    assert out > 0


def test_helpers():
    assert quantile([], 0.5) == 0.0
    assert quantile([3, 1, 2], 1.0) == 3
    assert quantile([3, 1, 2], 0.0) == 1
    assert _covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert _covered([]) == 0
