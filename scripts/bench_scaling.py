"""N→4N scaling verdict on perfbench's closed loop.

Usage (from the repository root)::

    python3 scripts/bench_scaling.py

The levels come from this process's CPU affinity: 4N is the CPU count
rounded down to a multiple of four and N is a quarter of it, so (1, 4) on
four CPUs and (4, 16) on sixteen.  For every workload in
``BENCHMARK.json`` the script runs ``abba.MIN_PAIRS`` pairs.  Pair ``i``
runs both levels with seed ``1000 + i``, N first in even pairs and 4N
first in odd ones (ABBA order).  Each run is one fresh
``perfbench/run.py --trace 0`` pinned to the first N or 4N CPUs: the
child inherits this process's affinity, so ``perfbench.session`` starts
``local[N]`` or ``local[4N]``.

A pair's efficiency is (docs_per_s at 4N / docs_per_s at N) / 4.  Per
workload the script prints the efficiencies' median and quartiles, the
verdict (MET when q1 >= 0.8, NOT MET when q3 < 0.8, else UNRESOLVED) and
the median docs_per_s and cpu_us_per_doc at each level.  Every run's
result is appended to ``.perfbench/scaling/runs.jsonl``.  The exit code
is non-zero when a run raises or its output is not correct; NOT MET is a
result, not a failure.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import abba  # noqa: E402

TARGET = 0.8
SEED0 = 1000
LOG = os.path.join(ROOT, ".perfbench", "scaling", "runs.jsonl")


def levels(n_cpus: int) -> tuple[int, int]:
    """(N, 4N) for a host with ``n_cpus`` CPUs."""
    wide = n_cpus // 4 * 4
    if wide < 4:
        raise SystemExit(f"bench_scaling: N→4N needs at least 4 CPUs, "
                         f"this process has {n_cpus}")
    return wide // 4, wide


def verdict(efficiencies: list[float]) -> str:
    q1, _, q3 = abba.quartiles(efficiencies)
    if q1 >= TARGET:
        return "MET"
    return "NOT MET" if q3 < TARGET else "UNRESOLVED"


def pinned_run(workload: str, seed: int, cpus: int, seconds: float) -> dict:
    """One perfbench run whose process tree is pinned to ``cpus`` CPUs."""
    saved = os.sched_getaffinity(0)
    os.sched_setaffinity(0, sorted(saved)[:cpus])
    try:
        return abba.run_once(ROOT, workload, seed, seconds)
    finally:
        os.sched_setaffinity(0, saved)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    lo, hi = levels(len(os.sched_getaffinity(0)))
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a") as log:
        for workload in (w["name"] for w in spec["workloads"]):
            runs: dict[int, list[dict]] = {lo: [], hi: []}
            for i in range(abba.MIN_PAIRS):
                for cpus in ((lo, hi) if i % 2 == 0 else (hi, lo)):
                    r = pinned_run(workload, SEED0 + i, cpus, spec["run_seconds"])
                    log.write(json.dumps({"workload": workload, "pair": i,
                                          "cpus": cpus, "result": r}) + "\n")
                    log.flush()
                    if not r["correct"]:
                        print(f"{workload} pair {i} local[{cpus}]: output not correct",
                              file=sys.stderr)
                        return 1
                    runs[cpus].append(r)
                    print(f"{workload} pair {i} local[{cpus}] seed {SEED0 + i}: "
                          f"{r['metrics']['docs_per_s']['value']:.1f} docs/s",
                          file=sys.stderr, flush=True)
            docs = {c: [r["metrics"]["docs_per_s"]["value"] for r in runs[c]]
                    for c in (lo, hi)}
            effs = [(w / n) / (hi / lo) for n, w in zip(docs[lo], docs[hi])]
            q1, med, q3 = abba.quartiles(effs)
            print(f"{workload}: local[{lo}] → local[{hi}] efficiency {med:.3f} "
                  f"[{q1:.3f}, {q3:.3f}] over {len(effs)} pairs: {verdict(effs)}")
            print(f"  per pair: {', '.join(f'{e:.3f}' for e in effs)}")
            for c in (lo, hi):
                cpu = [r["metrics"]["cpu_us_per_doc"]["value"] for r in runs[c]]
                attempted = [r["attempted"] for r in runs[c]]
                print(f"  local[{c}]: docs_per_s {statistics.median(docs[c]):.1f}, "
                      f"cpu_us_per_doc {statistics.median(cpu):.1f}, "
                      f"docs per run {statistics.median(attempted):.0f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
