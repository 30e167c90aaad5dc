"""Record ``eventlog_small.json``, the fixture of ``test_eventlog.py``.

Usage (from the repository root)::

    python3 perfbench/testdata/record_eventlog.py

The environment event is dropped, job properties are cut down to the
ones the reader uses, the user name reads ``user`` and the repository's
path ``<repo>``, so the fixture holds nothing of the machine it was
recorded on.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench.eventlog import SPAN_PROPERTY  # noqa: E402

KEPT_PROPERTIES = ("spark.job.description", "spark.jobGroup.id",
                   "spark.sql.execution.id", SPAN_PROPERTY)


def scrub(line: str) -> str | None:
    """One event-log line as the fixture keeps it, or None to drop it."""
    event = json.loads(line.replace(ROOT, "<repo>"))
    if event["Event"] == "SparkListenerEnvironmentUpdate":
        return None
    if "User" in event:
        event["User"] = "user"
    if "Properties" in event:
        event["Properties"] = {k: v for k, v in event["Properties"].items()
                               if k in KEPT_PROPERTIES}
    return json.dumps(event) + "\n"


def _identity(batches):
    yield from batches


def _boom(batches):
    for _ in batches:
        raise ValueError("recorded failure")
    yield from ()


def main() -> int:
    from perfbench import session

    work = os.path.join(ROOT, ".perfbench", "record")
    shutil.rmtree(work, ignore_errors=True)
    session.prepare_env(ROOT, work)
    log_dir = os.path.join(work, "eventlog")
    spark = session.start(work, log_dir)
    sc = spark.sparkContext

    def label(name: str) -> None:
        sc.setJobDescription(f"perfbench:{name}")
        sc.setLocalProperty(SPAN_PROPERTY, name)

    try:
        label("shuffle")
        (spark.range(2000).repartition(4).mapInArrow(_identity, "id long")
         .write.format("noop").mode("overwrite").save())
        label("write")
        spark.range(100).write.mode("overwrite").parquet(os.path.join(work, "out"))
        label("fail")
        try:
            spark.range(10, numPartitions=1).mapInArrow(_boom, "id long").collect()
        except Exception:  # the recorded failure
            pass
        label("collect")
        sc.parallelize(range(10), 2).sum()
        spark.stop()
    finally:
        session.shutdown()

    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as src, \
            open(os.path.join(HERE, "eventlog_small.json"), "w") as dst:
        for line in src:
            kept = scrub(line)
            if kept is not None:
                dst.write(kept)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
