"""End-to-end benchmark of the lexor_spark extraction job.

Usage (from the repository root)::

    python3 perfbench/run.py --workload template_1k --seed 1 --seconds 10 --trace 0

One process drives ``local[nproc]`` Spark in a closed loop: one job in
flight, the next submitted when the previous one returns, for
``--seconds`` of timed wall.  Workloads (pages tables made from the seed by
``perfbench/corpus.py``):

* ``template_1k``   ``extract_pages`` over 10,000 ~1.06 KB template pages,
                    ``noop`` sink.
* ``crawl_mix``     ``extract_pages`` over 1,000 heavy-tailed crawl-like
                    pages (median 16 KB, 1% ~2 MB, hostile shapes),
                    ``noop`` sink.

With ``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of
a traced run (event log, subtraction ladder, serial stage tracer), whose
spans and ledger are written under ``.perfbench/trace/``.  Correctness is
checked after timing: a seeded sample is compared byte for byte with the
serial ``extract_document``, and an order-independent digest of the whole
output must repeat for a repeated seed; a traced run also requires the
serial stage tracer's staged result to equal ``extract_document`` on every
page it times.  The exit code is non-zero on any mismatch, and when the
program cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")

WORKLOADS = ("template_1k", "crawl_mix")
SETUP_REPS = 3
LADDER_REPS = 3
N_GROUPS = 4
SAMPLE_DOCS = 150
STAGE_SAMPLE_DOCS = 400
STAGE_SAMPLE_BYTES = 3_000_000
TIMED_GROUP = "perfbench-timed"
# the range each of a traced run's accounting ratios must fall in to read
# "ok" (the two sides of each are timed separately on a shared host)
ACCOUNT_RANGE = {"kernel_rung_over_loop_iteration": (0.8, 1.25),
                 "serial_over_spark_kernel_us": (0.5, 1.5),
                 "stages_over_extract_document": (0.5, 1.05)}

E2E_UNITS = {"docs_per_s": "1/s", "mb_per_s": "MB/s", "cpu_us_per_doc": "us",
             "rss_peak_mb": "MB", "setup_s": "s"}
LAYER_UNITS = {
    "scan.wall_s": "s", "scan.input_mb": "MB",
    "salt.wall_s": "s", "salt.shuffle_write_mb": "MB", "salt.fetch_wait_s": "s",
    "salt.partition_mb_max_over_median": "ratio",
    "handoff.wall_s": "s", "handoff.to_python_mb": "MB", "handoff.from_python_mb": "MB",
    "kernel.wall_s": "s", "kernel.task_s_p50": "s", "kernel.task_s_max": "s",
    "kernel.doc_us_p50": "us", "kernel.doc_us_p999": "us", "kernel.error_rows": "count",
    "kernel.decode_us_per_doc": "us", "kernel.parse_us_per_doc": "us",
    "kernel.meta_us_per_doc": "us", "kernel.select_us_per_doc": "us",
    "kernel.write_us_per_doc": "us", "kernel.parse_us_per_kb": "us/KB",
    "kernel.write_us_per_kb": "us/KB", "kernel.batch_build_us_per_doc": "us",
    "kernel.unattributed_us_per_doc": "us",
    "sink.wall_s": "s", "sink.output_mb": "MB",
    "commit.write_job_s": "s", "commit.lineage_job_s": "s", "commit.driver_s": "s",
    "trace.overhead_share": "share",
}


def _program_hash() -> str:
    """Hash of the program's sources, so a stored output digest is only
    compared against runs of the same code."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "lexor_spark")
    for dirpath, dirnames, names in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]


class Bench:
    """One benchmark run: a workload, its pages table and the session."""

    def __init__(self, workload: str, seed: int, seconds: float) -> None:
        from perfbench import corpus
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.run_id = f"{workload}-s{seed}-{int(time.time())}-{os.getpid()}"
        self.out_root = os.path.join(WORK, "out", self.run_id)
        self.pages_path = corpus.pages_path(CACHE, workload, seed)
        self.warm_path = corpus.warmup_path(CACHE, workload)
        st = corpus.stats(self.pages_path)
        self.n_docs, self.html_mb = st["docs"], st["html_bytes"] / 1e6
        self.scan_mb = st["scan_bytes"] / 1e6
        self.spark = None

    # -- session -------------------------------------------------------------

    def start(self, event_log_dir: str | None = None) -> float:
        """Stop the current session, if any (the JVM stays up), and start
        a new one with its Python workers warmed up on the workload's
        warm-up table; return the wall of the start and warm-up.  The
        first call also launches the JVM."""
        from perfbench import session
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = session.start(WORK, event_log_dir)
        session.warm_up(self.spark, self.warm_path,
                        os.path.join(self.out_root, "warmup"))
        wall = time.perf_counter() - t0
        self.pages = self.spark.read.parquet(self.pages_path)
        return wall

    # -- the timed closed loop -----------------------------------------------

    def once(self) -> None:
        from lexor_spark.job import extract_pages
        extract_pages(self.pages).write.format("noop").mode("overwrite").save()

    def warm_iteration(self):
        """One untimed iteration before timing.  The timed iterations write
        to the ``noop`` sink; this one keeps its output (a local checkpoint)
        for the verification after timing and returns it."""
        from lexor_spark.job import extract_pages
        return (extract_pages(self.pages).select("url", "text", "ok", "kernel_us")
                .localCheckpoint())

    def timed_loop(self, tracer=None) -> dict:
        from perfbench.procsample import TreeSampler
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", TIMED_GROUP)
        walls: list[float] = []
        sampler = TreeSampler().start()
        t_start = time.perf_counter()
        while not walls or time.perf_counter() - t_start < self.seconds:
            span = (tracer.span("loop.iteration", i=len(walls)) if tracer
                    else contextlib.nullcontext())
            with span:
                t0 = time.perf_counter()
                self.once()
                walls.append(time.perf_counter() - t0)
        sampler.stop()
        failed_tasks = 0
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(TIMED_GROUP):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                failed_tasks += stage.numFailedTasks if stage else 0
        sc.setLocalProperty("spark.jobGroup.id", None)
        docs = self.n_docs * len(walls)
        return {
            "iterations": len(walls), "walls_s": walls,
            "docs_per_s": median([self.n_docs / w for w in walls]),
            "mb_per_s": median([self.html_mb / w for w in walls]),
            "cpu_us_per_doc": sampler.cpu_s * 1e6 / docs,
            "rss_peak_mb": sampler.rss_peak_mb, "rss_samples": sampler.samples,
            "docs": docs, "failed_tasks": failed_tasks,
        }

    # -- untimed verification ------------------------------------------------

    def verify(self, out) -> dict:
        """Whole-output digest and error rows, kernel_us percentiles, and
        the byte-identity check of a seeded sample against the serial
        kernel, on the extraction output ``out``."""
        from pyspark.sql import functions as F
        from lexor_spark.kernel.pipeline import extract_document
        from perfbench import corpus

        row = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.xxhash64("url", "text").cast("decimal(38,0)")).alias("digest"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("error_rows"),
            F.percentile("kernel_us", [0.5, 0.999]).alias("doc_us"),
        ).collect()[0]

        sample = corpus.sample_urls(corpus.urls(self.pages_path), self.seed, SAMPLE_DOCS)
        got = {r["url"]: (r["text"], r["ok"]) for r in
               out.filter(F.col("url").isin(sample)).select("url", "text", "ok").collect()}
        htmls = corpus.read_sample(self.pages_path, set(sample))
        mismatches = 0
        for url in sample:
            want = extract_document(htmls[url], url)
            mismatches += got.get(url) != (want.text, want.ok)
        mismatches += abs(row["rows"] - self.n_docs)

        digest = str(row["digest"])
        key = os.path.join(CACHE, f"{os.path.basename(self.pages_path)}"
                                  f".{_program_hash()}.digest")
        if os.path.exists(key):
            with open(key) as fh:
                digest_ok = fh.read() == digest
        else:
            with open(key, "w") as fh:
                fh.write(digest)
            digest_ok = True
        return {"rows": row["rows"], "digest": digest, "digest_repeats": digest_ok,
                "error_rows": int(row["error_rows"] or 0),
                "doc_us_p50": float(row["doc_us"][0]),
                "doc_us_p999": float(row["doc_us"][1]),
                "doc_us_samples": row["rows"], "sample_docs": len(sample),
                "output_mismatches": mismatches}

    # -- runs ----------------------------------------------------------------

    def run_untraced(self) -> tuple[dict, dict]:
        t0 = time.perf_counter()
        launch = self.start()
        setup = [self.start() for _ in range(SETUP_REPS)]
        t1 = time.perf_counter()
        warm = self.warm_iteration()
        t2 = time.perf_counter()
        loop = self.timed_loop()
        t3 = time.perf_counter()
        check = self.verify(warm)
        t4 = time.perf_counter()
        metrics = {k: loop[k] for k in ("docs_per_s", "mb_per_s", "cpu_us_per_doc",
                                        "rss_peak_mb")}
        metrics["setup_s"] = median(setup)
        detail = {"launch_s": launch, "setup_walls_s": setup, "loop": loop,
                  "verify": check,
                  "phases_s": {"setup": t1 - t0, "warm_iteration": t2 - t1,
                               "timed_loop": t3 - t2, "verify": t4 - t3}}
        return metrics, detail

    def run_traced(self) -> tuple[dict, dict]:
        from perfbench import corpus, ledger, stages
        from perfbench.eventlog import EventLog
        trace_dir = os.path.join(WORK, "trace", self.run_id)
        log_dir = os.path.join(trace_dir, "eventlog")
        # each loop runs on a restarted session in a JVM that has run the
        # warm-up before, after one untimed iteration, so the two loops
        # differ only in the tracing
        self.start()
        self.start()
        self.warm_iteration()
        untraced = self.timed_loop()
        self.start(event_log_dir=log_dir)
        tracer = ledger.Tracer(self.run_id, self.spark.sparkContext)
        with tracer.span("warm_iteration"):
            warm = self.warm_iteration()
        with tracer.span("loop"):
            traced = self.timed_loop(tracer)
        with tracer.span("ladder"):
            walls = ledger.ladder(self.pages, tracer,
                                  os.path.join(self.out_root, "ladder"), LADDER_REPS)
        with tracer.span("commit") as commit_span:
            from lexor_spark.job import run_job
            run_job(self.spark, self.pages, os.path.join(self.out_root, "commit"),
                    n_groups=N_GROUPS)
        with tracer.span("verify"):
            check = self.verify(warm)
        with tracer.span("serial_stages"):
            import random
            all_urls = corpus.urls(self.pages_path)
            random.Random(f"stages:{self.seed}").shuffle(all_urls)
            picked = all_urls[:STAGE_SAMPLE_DOCS]
            htmls = corpus.read_sample(self.pages_path, set(picked))
            docs, size = [], 0
            for u in picked:  # in seeded order, up to the byte budget
                if size >= STAGE_SAMPLE_BYTES:
                    break
                docs.append((u, htmls[u]))
                size += len(htmls[u])
            serial = stages.stage_costs(docs)
            from pyspark.sql import functions as F
            spark_kernel_us = warm.filter(F.col("url").isin([u for u, _ in docs])).agg(
                F.avg("kernel_us")).collect()[0][0]
        self.spark.stop()  # flushes and closes the event log
        self.spark = None
        (log_file,) = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
        log = EventLog.read(log_file)
        tracer.add_event_log(log)

        m = ledger.layer_metrics(log, tracer, walls)
        m.update(ledger.commit_metrics(log, commit_span))
        m["scan.input_mb"] = self.scan_mb
        m["kernel.doc_us_p50"] = check["doc_us_p50"]
        m["kernel.doc_us_p999"] = check["doc_us_p999"]
        m["kernel.error_rows"] = check["error_rows"]
        for s in stages.STAGES:
            m[f"kernel.{s}_us_per_doc"] = serial[f"{s}_us_per_doc"]
        for k in ("parse_us_per_kb", "write_us_per_kb", "batch_build_us_per_doc",
                  "unattributed_us_per_doc"):
            m[f"kernel.{k}"] = serial[k]
        m["trace.overhead_share"] = 1 - traced["docs_per_s"] / untraced["docs_per_s"]

        stage_total = sum(serial[f"{s}_us_per_doc"] for s in stages.STAGES)
        # each check compares two separately timed measures of the same
        # work; the layer split holds only where they agree
        ratios = {
            # the ladder's kernel rung runs the job the untraced loop times
            "kernel_rung_over_loop_iteration":
                median(walls["kernel"]) / median(untraced["walls_s"]),
            # extract_document on the same pages: serially in this process,
            # and in the Spark workers (their own ``kernel_us`` column)
            "serial_over_spark_kernel_us":
                serial["serial_us_per_doc"] / spark_kernel_us,
            # the stages, timed one by one, against extract_document whole
            "stages_over_extract_document": stage_total / serial["serial_us_per_doc"],
        }
        accounting = {name: {"ratio": r, "range": ACCOUNT_RANGE[name],
                             "ok": ACCOUNT_RANGE[name][0] <= r <= ACCOUNT_RANGE[name][1]}
                      for name, r in ratios.items()}
        accounting["totals"] = {
            "kernel_rung_median_s": median(walls["kernel"]),
            "untraced_iteration_median_s": median(untraced["walls_s"]),
            "serial_extract_document_us": serial["serial_us_per_doc"],
            "spark_kernel_us_mean": spark_kernel_us,
            "serial_stages_us": stage_total,
        }
        detail = {
            "untraced_loop": untraced, "traced_loop": traced, "verify": check,
            "serial": serial, "ladder_walls_s": walls,
            "ladder_iqr_s": {r: ledger.iqr(w) for r, w in walls.items()},
            "accounting": accounting,
            "docs_per_s_untraced": untraced["docs_per_s"],
            "docs_per_s_traced": traced["docs_per_s"],
            "failed_tasks_in_log": log.failed_tasks(),
            "trace_dir": trace_dir,
        }
        ledger.write_outputs(trace_dir, tracer, {"metrics": m, **detail})
        return m, detail


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lexor_spark.job  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from perfbench import session
    from perfbench.procsample import HostStamp

    session.prepare_env(ROOT, WORK)
    host = HostStamp()
    bench = Bench(args.workload, args.seed, args.seconds)
    try:
        if args.trace:
            metrics, detail = bench.run_traced()
        else:
            metrics, detail = bench.run_untraced()
    finally:
        session.shutdown()
        shutil.rmtree(bench.out_root, ignore_errors=True)

    check = detail["verify"]
    loop = detail.get("loop") or detail["traced_loop"]
    failed = check["error_rows"] * loop["iterations"] + loop["failed_tasks"]
    correct = (check["output_mismatches"] == 0 and check["digest_repeats"]
               and (not args.trace or detail["serial"]["mismatches"] == 0))
    record = {"run_id": bench.run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host.read(),
              "metrics": metrics, "detail": detail}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", bench.run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(f"perfbench {args.workload} seed={args.seed} docs/iteration={bench.n_docs} "
          f"html_mb/iteration={bench.html_mb:.3f} iterations={loop['iterations']} "
          f"host={json.dumps(record['host'])}")
    for name, value in metrics.items():
        print(f"  {name:36s} {value:14.4f} {units[name]}")
    print(f"  {'error_share':36s} {failed / loop['docs']:14.6f} share")
    print(f"  {'output_mismatches':36s} {check['output_mismatches']:14d} count "
          f"(sample {check['sample_docs']}, digest {check['digest']}, "
          f"repeats={check['digest_repeats']})")
    if args.trace:
        print(f"  traced docs/s {detail['docs_per_s_traced']:.1f} vs untraced "
              f"{detail['docs_per_s_untraced']:.1f}; ledger in {detail['trace_dir']}")
        print(f"  serial stage mismatches {detail['serial']['mismatches']} "
              f"(of {detail['serial']['docs']} pages)")
        for name, a in detail["accounting"].items():
            if "ratio" in a:
                print(f"  accounting {name:34s} {a['ratio']:8.3f} "
                      f"(range {a['range'][0]}-{a['range'][1]}) "
                      f"{'ok' if a['ok'] else 'OUT OF RANGE'}")
    print(json.dumps({
        "correct": correct, "attempted": loop["docs"], "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
