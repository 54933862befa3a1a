#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of textindex_spark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Workloads: ``serve`` and ``ingest`` (see ``perfbench/workloads.py``). The engine runs on Spark ``local[4]``
with one client thread, driven only through its public functions.
Every answer is checked against ``textindex_spark.refimpl.oracle``.

Output: one ``name value unit`` line per metric, then, as the last
line, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` wraps the engine's layer functions and
reports the per-layer metrics (``per_layer``), and writes every span,
job and kernel record to ``.perfbench/trace-<workload>-<seed>.json``.
Exit status 0 means every answer was correct and every path assertion
held. All scratch files live under ``.perfbench/`` in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".perfbench")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, then wait for every child process."""
    kids = descendants(os.getpid())
    if spark is not None:
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in kids:
        try:
            os.waitpid(p, 0)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None, help="base corpus rows (tests use a tiny corpus)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "textindex_spark", "__init__.py")):
        print("perfbench: run from the root of a textindex_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import inputs, report, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(SCRATCH, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    run = workloads.Run(
        args.workload, args.seed, args.seconds, bool(args.trace), run_dir,
        n_rows=args.rows or inputs.BASE_ROWS,
    )
    try:
        metrics, detail = execute(run)
    finally:
        stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = report.PER_LAYER if run.trace else report.END_TO_END
    for name, value in metrics.items():
        print(f"{name} {value!r} {units[name]}")
    if not run.trace:
        for name, (value, unit) in report.workload_extras(run).items():
            print(f"{run.workload}.{name} {value!r} {unit}")
    print("fingerprint " + json.dumps(detail["fingerprint"], sort_keys=True))
    print(f"# set-up build_s {detail['setup_build_s']} phases_s {json.dumps(detail['phase_s'])}")
    for why in run.failures[:20]:
        print(f"FAILED {why}")
    if run.trace:
        os.makedirs(SCRATCH, exist_ok=True)
        path = os.path.join(SCRATCH, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {"metrics": metrics, "detail": detail, "spans": run.tracer.spans,
                 "jobs": run.tracer.jobs, "kernels": run.tracer.kernels},
                f, default=str,
            )
        for key in ("unattributed_s", "op_wall_s", "tracing_bookkeeping_s",
                    "unclaimed_jobs_by_call_site", "query.p50_ms"):
            print(f"# {key} {json.dumps(detail['layers'][key], sort_keys=True)}")
    correct = not run.failures
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def execute(run):
    """Set up, run the workload, check every answer; returns the
    metrics and the detail. The caller stops ``run.spark``."""
    from perfbench import inputs, report, workloads
    from perfbench.tracer import Tracer

    os.makedirs(run.root, exist_ok=True)
    t0 = time.perf_counter()
    run.spark = workloads.start_session(run.root)
    run.setup["session_s"] = time.perf_counter() - t0
    run.tracer = Tracer(run.spark)
    if run.trace:
        run.tracer.install()
    t0 = time.perf_counter()
    run.inp = inputs.make_inputs(run.workload, run.seed, run.n_rows)
    corpus = inputs.write_parquet(run.inp.base_rows, f"{run.root}/corpus")
    run.setup["corpus_s"] = time.perf_counter() - t0
    run.setup["build_s"] = workloads.build_base(run, corpus)
    marks = [time.perf_counter()]
    run.info["base_docs"] = workloads.live_docs(run)
    run.info["base_n_docs"] = int(run.info["stats"]["n_docs"])
    base = run.info["shape"] = workloads.index_shape(run)
    if run.workload == "ingest":
        workloads.ingest(run)  # re-measures the shape after its first batch
    else:
        workloads.serve(run)
    run.info["peak_rss_mb"] = peak_rss_mb()
    run.tracer.enabled = False
    marks.append(time.perf_counter())
    workloads.check_paths(run)
    workloads.check_answers(run)
    marks.append(time.perf_counter())
    phases = {
        "start_to_served": marks[0] - T_START,
        "workload": marks[1] - marks[0],
        "checks": marks[2] - marks[1],
    }
    detail = {
        "fingerprint": {
            "seed": run.seed,
            "inputs": run.inp.fingerprint(),
            "n_docs": base["n_docs"],
            "vocab_size": base["vocab_size"],
            "postings": base["postings"],
        },
        "setup_build_s": run.setup["build_s"],
        "phase_s": phases,
    }
    if run.trace:
        metrics, detail["layers"] = report.layer_report(run)
    else:
        e2e = report.end_to_end(run)
        metrics = {k: e2e[k] for k in report.END_TO_END}
    return metrics, detail


if __name__ == "__main__":
    sys.exit(main())
