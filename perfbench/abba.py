"""Paired, interleaved comparison of two git revisions on the benchmark.

Usage (from the repository root)::

    python3 perfbench/abba.py --base HEAD~1 --change HEAD --pairs 10

Each revision is exported with ``git archive`` into its own directory
under ``--out``, and this working tree's ``perfbench/`` is copied into
both, so the two sides run identical benchmark code and settings.  Pair
``i`` runs every workload on both sides with seed ``--seed0 + i``; even
pairs run the base first, odd pairs the change first (ABBA order).

For each workload and end-to-end metric the report gives both sides'
median and quartiles and the change's win fraction: the share of pairs
in which the change read better, ties counting for neither.  A gain is
claimed only over at least ten pairs, when the change wins at least nine
tenths of them and the medians differ by more than the base's own
interquartile range; a regression is a change median worse than the
base median by more than the metric's bound in ``BENCHMARK.json``; a
base spread wider than the bound leaves the metric unresolved unless
every change run beats every base run.  Each workload's failed
operations (``ok=false`` rows plus failed Spark tasks, the result's
``failed``) are totalled on both sides; where the change fails more than
the base, no gain on that workload is claimed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PAIRS = 10  # fewer pairs never support a claimed gain


def export(rev: str, dest: str) -> None:
    """``rev``'s tree in ``dest``, with this tree's benchmark in it."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} {workload} seed {seed}: exit {p.returncode}\n"
                           f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base: list[float], change: list[float], better: str, bound: float) -> dict:
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    bq, cq = quartiles(base), quartiles(change)
    b_med, c_med, b_iqr = bq[1], cq[1], bq[2] - bq[0]
    gain = sign * (c_med - b_med)
    if len(base) >= MIN_PAIRS and wins >= 0.9 * len(base) and gain > b_iqr:
        call = "gain"
    elif -gain > bound * abs(b_med):
        call = "regression"
    elif b_iqr > bound * abs(b_med) and not (
            min(change) > max(base) if sign > 0 else max(change) < min(base)):
        call = "unresolved"
    else:
        call = "within bound"
    return {"base_q": bq, "change_q": cq, "win_fraction": wins / len(base),
            "pairs": len(base), "verdict": call}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", required=True, help="git revision of the parent")
    p.add_argument("--change", required=True, help="git revision of the change")
    p.add_argument("--workloads", help="comma-separated; default: all")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "abba"))
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    sides = {"base": os.path.join(args.out, "base"),
             "change": os.path.join(args.out, "change")}
    export(args.base, sides["base"])
    export(args.change, sides["change"])

    results: dict[tuple[str, str], list[dict]] = {}
    with open(os.path.join(args.out, "runs.jsonl"), "w") as log:
        for i in range(args.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for w in workloads:
                for side in order:
                    r = run_once(sides[side], w, args.seed0 + i, spec["run_seconds"])
                    if not r["correct"]:
                        print(f"{side} {w} pair {i}: output not correct", file=sys.stderr)
                        return 1
                    results.setdefault((w, side), []).append(r)
                    log.write(json.dumps({"pair": i, "side": side, "workload": w,
                                          "result": r}) + "\n")
                    log.flush()

    report = {}
    for w in workloads:
        failed = {side: sum(r["failed"] for r in results[(w, side)])
                  for side in ("base", "change")}
        attempted = {side: sum(r["attempted"] for r in results[(w, side)])
                     for side in ("base", "change")}
        more_failures = failed["change"] > failed["base"]
        report[f"{w}/failed"] = {"failed": failed, "attempted": attempted,
                                 "change_fails_more": more_failures}
        print(f"{w:14s} failed           base {failed['base']} of {attempted['base']}  "
              f"change {failed['change']} of {attempted['change']}"
              + ("  change fails more: no gain claimed" if more_failures else ""))
        for m in spec["end_to_end"]:
            base = [r["metrics"][m["name"]]["value"] for r in results[(w, "base")]]
            change = [r["metrics"][m["name"]]["value"] for r in results[(w, "change")]]
            v = verdict(base, change, m["better"], m["bound"])
            if more_failures and v["verdict"] == "gain":
                v["verdict"] = "no gain: change fails more"
            report[f"{w}/{m['name']}"] = v
            print(f"{w:14s} {m['name']:16s} base {v['base_q'][1]:12.4f} "
                  f"[{v['base_q'][0]:.4f}, {v['base_q'][2]:.4f}]  change "
                  f"{v['change_q'][1]:12.4f} [{v['change_q'][0]:.4f}, "
                  f"{v['change_q'][2]:.4f}] {m['unit']:5s} wins "
                  f"{v['win_fraction']:.2f} of {v['pairs']}  {v['verdict']}")
    with open(os.path.join(args.out, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
