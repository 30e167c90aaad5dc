"""Reader for Spark's JSON event log (uncompressed, not rolled).

Turns the listener events into jobs, stages and per-task metrics.  Jobs
carry the job description and the ``perfbench.span`` local property the
benchmark sets before it calls into the program, so every Spark job can
be parented to the benchmark span that launched it.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

__all__ = ["Task", "Stage", "Job", "EventLog", "SPAN_PROPERTY"]

SPAN_PROPERTY = "perfbench.span"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Task:
    stage_id: int
    run_ms: int
    failed: bool
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    submit_ms: int = 0
    done_ms: int = 0
    n_tasks: int = 0
    failure: str | None = None
    tasks: list[Task] = field(default_factory=list)

    def total(self, attr: str) -> int:
        return sum(getattr(t, attr) for t in self.tasks)

    def task_run_s(self) -> list[float]:
        return [t.run_ms / 1000 for t in self.tasks if not t.failed]


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    description: str | None
    span: str | None
    sql_id: int | None
    end_ms: int = 0
    succeeded: bool = False


class EventLog:
    """Jobs, stages and tasks of one application's event log."""

    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[tuple[int, int], Stage] = {}
        self.sql: dict[int, dict] = {}

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                log._add(json.loads(line))
        return log

    def _stage(self, info: dict) -> Stage:
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        st = self.stages.get(key)
        if st is None:
            st = self.stages[key] = Stage(key[0], key[1], info.get("Stage Name", ""))
        return st

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"], list(e["Stage IDs"]),
                props.get("spark.job.description"), props.get(SPAN_PROPERTY),
                int(sql_id) if sql_id is not None else None)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
                job.succeeded = e["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info)
            st.submit_ms = info.get("Submission Time", 0)
            st.done_ms = info.get("Completion Time", 0)
            st.n_tasks = info.get("Number of Tasks", 0)
            st.failure = info.get("Failure Reason")
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart"):
            self.sql[e["executionId"]] = {
                "description": e.get("description", ""),
                "details": e.get("details", ""),
                "plan": e.get("physicalPlanDescription", "")}

    def _task(self, e: dict) -> None:
        info = e["Task Info"]
        st = self._stage({"Stage ID": e["Stage ID"],
                          "Stage Attempt ID": e.get("Stage Attempt ID", 0)})
        m = e.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        acc = {a.get("Name"): a.get("Update", 0) for a in info.get("Accumulables", ())}
        st.tasks.append(Task(
            stage_id=st.stage_id,
            run_ms=m.get("Executor Run Time", info["Finish Time"] - info["Launch Time"]),
            failed=bool(info.get("Failed")) or e["Task End Reason"]["Reason"] != "Success",
            input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
            output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
            shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            shuffle_read_bytes=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
            fetch_wait_ms=rd.get("Fetch Wait Time", 0),
            py_sent_bytes=int(acc.get(PY_SENT, 0) or 0),
            py_returned_bytes=int(acc.get(PY_RETURNED, 0) or 0)))

    # -- queries -------------------------------------------------------------

    def jobs_of(self, span: str) -> list[Job]:
        return sorted((j for j in self.jobs.values() if j.span == span),
                      key=lambda j: j.job_id)

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Every attempt of every stage the jobs ran (skipped stages,
        whose shuffle output was reused, never ran and are absent)."""
        ids = {s for j in jobs for s in j.stage_ids}
        return sorted((st for (sid, _), st in self.stages.items()
                       if sid in ids and (st.tasks or st.done_ms)),
                      key=lambda st: (st.stage_id, st.attempt))

    def failed_tasks(self, jobs: list[Job] | None = None) -> int:
        stages = self.stages.values() if jobs is None else self.stages_of(jobs)
        return sum(t.failed for st in stages for t in st.tasks)

    def is_write(self, job: Job) -> bool:
        """Whether the job belongs to a SQL execution that writes files."""
        ex = self.sql.get(job.sql_id) if job.sql_id is not None else None
        return ex is not None and "InsertIntoHadoopFsRelationCommand" in ex["plan"]


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (0 for an empty list)."""
    if not values:
        return 0.0
    vals = sorted(values)
    return vals[min(len(vals) - 1, max(0, int(round(q * (len(vals) - 1)))))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
