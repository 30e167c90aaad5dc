"""Equal-bandwidth scaling control: 4 concurrent local[4] jobs vs 1 local[16].

The interleaved N vs 4N protocol (``bench_scaling.py``) has one known
single-box artifact: the narrow level (local[4] pinned to 4 of 32 cores,
rest of the box idle) enjoys the WHOLE machine's memory bandwidth — up to
8x its per-core fair share — while the wide level shares it 16 ways.  A
real cluster never grants that privilege: 4N executors span 4x the nodes
and bring 4x the aggregate memory channels, so per-executor bandwidth is
the same at both cluster sizes.

This control removes the privilege by comparing AT EQUAL TOTAL RESOURCES:

* **A (packed narrow):** four concurrent, independent extraction jobs,
  each ``local[4]``, pinned to disjoint core quartets (0-3, 4-7, 8-11,
  12-15).  16 cores busy, bandwidth fair-shared 4 ways — exactly the
  resource slice four 4-core executors get on one packed cluster node.
  Aggregate throughput = sum of per-job docs/sec over the overlapping
  timed window (a barrier file synchronises the timed sections).
* **B (wide):** one ``local[16]`` job pinned to cores 0-15 — the same
  16 cores, same bandwidth, one Spark job.

If B / A ~= 1.0 the pipeline itself scales perfectly from 4-core to
16-core parallelism at equal hardware, and any deficit in the single-job
4->16 ratio is the narrow level's bandwidth privilege — which a real
cluster's extra nodes restore.  The phases alternate B,A,B,A,... so a
host epoch hits both alike (same rationale as the interleaved protocol).

Usage:
    python scripts/bench_fairshare.py            # reps from $BENCH_FAIRSHARE_REPS (default 2)
    python scripts/bench_fairshare.py --worker CORES CPUSET BARRIER_DIR IDX
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEAT = int(os.environ.get("BENCH_REPEAT", "384"))
BENCH_DIR = os.path.join(REPO, ".bench")


def worker(cores: int, cpuset: str, barrier_dir: str, idx: int) -> None:
    """One job: warm up, signal ready, wait for go, run ONE timed pass."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F  # noqa: F401

    from lexor_spark.job import extract_pages
    from lexor_spark.pages import materialized_pages

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"fairshare-{idx}-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = materialized_pages(spark, SF_DIR, REPEAT, BENCH_DIR)
    n_docs = pages.count()
    extract_pages(pages.limit(2000)) \
        .write.mode("overwrite").format("noop").save()
    # barrier: all concurrent jobs start their timed pass together so the
    # aggregate window genuinely overlaps
    open(os.path.join(barrier_dir, f"ready_{idx}"), "w").close()
    go = os.path.join(barrier_dir, "go")
    while not os.path.exists(go):
        time.sleep(0.05)
    t0 = time.perf_counter()
    extract_pages(pages) \
        .write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    print(json.dumps({"idx": idx, "cores": cores, "wall_s": round(wall, 3),
                      "docs_per_sec": round(n_docs / wall, 1),
                      "n_docs": n_docs}))
    spark.stop()


def _spawn(cores: int, cpuset: str, barrier_dir: str, idx: int):
    return subprocess.Popen(
        ["taskset", "-c", cpuset, sys.executable,
         os.path.abspath(__file__), "--worker", str(cores), cpuset,
         barrier_dir, str(idx)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
    )


def _run_phase(jobs: list[tuple[int, str]], tag: str) -> dict:
    """Run `jobs` (cores, cpuset) concurrently behind a start barrier."""
    barrier = os.path.join(BENCH_DIR, f"barrier_{tag}_{os.getpid()}")
    os.makedirs(barrier, exist_ok=True)
    for f in glob.glob(os.path.join(barrier, "*")):
        os.remove(f)
    procs = [_spawn(c, cs, barrier, i) for i, (c, cs) in enumerate(jobs)]
    while len(glob.glob(os.path.join(barrier, "ready_*"))) < len(jobs):
        time.sleep(0.2)
        if any(p.poll() is not None and p.returncode != 0 for p in procs):
            raise RuntimeError(f"fairshare worker died in phase {tag}")
    open(os.path.join(barrier, "go"), "w").close()
    rows = []
    for p in procs:
        out, _ = p.communicate(timeout=1800)
        line = [ln for ln in out.splitlines() if ln.startswith("{")][-1]
        rows.append(json.loads(line))
    return {"tag": tag,
            "jobs": rows,
            "agg_docs_per_sec": round(sum(r["docs_per_sec"] for r in rows), 1),
            "max_wall_s": max(r["wall_s"] for r in rows),
            "min_wall_s": min(r["wall_s"] for r in rows)}


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), sys.argv[3], sys.argv[4], int(sys.argv[5]))
        return
    reps = int(os.environ.get("BENCH_FAIRSHARE_REPS", "2"))
    os.makedirs(BENCH_DIR, exist_ok=True)
    packed = [(4, "0-3"), (4, "4-7"), (4, "8-11"), (4, "12-15")]
    wide = [(16, "0-15")]
    solo = [(4, "0-3")]
    results = []
    for rep in range(reps):
        # alternate wide / packed / solo within each rep (epoch fairness)
        results.append(_run_phase(wide, f"wide{rep}"))
        print(json.dumps(results[-1]), flush=True)
        results.append(_run_phase(packed, f"packed{rep}"))
        print(json.dumps(results[-1]), flush=True)
        results.append(_run_phase(solo, f"solo{rep}"))
        print(json.dumps(results[-1]), flush=True)
    med = {}
    for tag in ("wide", "packed", "solo"):
        vals = [r["agg_docs_per_sec"] for r in results if r["tag"].startswith(tag)]
        med[tag] = statistics.median(vals)
    summary = {
        "median_agg_docs_per_sec": med,
        # pipeline scaling at equal hardware: one 16-core job vs four
        # 4-core jobs on the same 16 cores
        "pipeline_eff_equal_hw": round(med["wide"] / med["packed"], 3),
        # bandwidth privilege of an idle-box 4-core run vs a fair-share
        # 4-core slice (solo vs packed per-job median)
        "solo_vs_packed_per_job": round(
            med["solo"] / (med["packed"] / 4), 3),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
