#!/usr/bin/env python3
"""Transcript-extraction benchmark: one workload, one run.

    python3 perfbench/run.py --workload flagship_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run generates the workload from the
seed, writes it to parquet, starts a ``local[nproc]`` session and then:

* ``--trace 0`` times whole extraction jobs in a closed loop with one client
  (one job at a time) for ``--seconds`` of job time, checks every job's
  output against the oracle, and reports the end-to-end metrics;
* ``--trace 1`` times each layer by calling its public functions, reads
  the extract stage's task metrics from Spark's event log, runs the
  workload's fragments through the kernel in this process with a timer
  around every stage, writes a span file, and reports the per-layer metrics.

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Scratch data, the event log, the span file and a detailed result record
live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark import cloudpickle  # noqa: E402

import layers  # noqa: E402
import sparkrun  # noqa: E402
from oracle import check_output  # noqa: E402
from workloads import WORKLOADS, generate  # noqa: E402

SETUP_SAMPLES = 3


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_untraced(args, w, work: str, in_path: str, zip_path: str, cpus: int):
    """(result, details) for the end-to-end metrics."""
    spark, setup = sparkrun.setup_samples(zip_path, cpus, SETUP_SAMPLES)
    checked = mismatches = 0
    walls, out_bytes, examples = [], [], []
    tables = errors = 0
    try:
        k = 0
        timed = 0.0
        # warm-up jobs are checked but not timed
        while k < sparkrun.WARMUP_JOBS or timed < args.seconds:
            out_dir = os.path.join(work, f"job{k}")
            wall = sparkrun.run_job(spark, in_path, out_dir, run_id=f"job{k}")
            res = check_output(w, out_dir)
            checked += res.checked
            mismatches += res.mismatches
            examples += res.examples
            tables, errors = res.tables, res.error_rows
            if k >= sparkrun.WARMUP_JOBS:
                walls.append(wall)
                timed += wall
                out_bytes.append(sparkrun.output_bytes(out_dir))
            shutil.rmtree(out_dir)
            k += 1
        rss = sparkrun.worker_peak_rss_mb()
    finally:
        sparkrun.shutdown(spark)
    input_bytes = w.shape()["input_bytes"]
    metrics = {
        "turns_per_s": _metric(w.n_turns / statistics.median(walls), "1/s"),
        "setup_s": _metric(statistics.median(setup), "s"),
        "worker_peak_rss_mb": _metric(rss, "MB"),
        "table_ok_share": _metric((tables - errors) / tables, "ratio"),
        "oracle_match_share": _metric((checked - mismatches) / checked, "ratio"),
        "output_bytes_per_input_byte": _metric(
            statistics.median(out_bytes) / input_bytes, "ratio"
        ),
    }
    details = {"job_s": walls, "setup_samples_s": setup, "mismatch_examples": examples[:5]}
    return checked, mismatches, metrics, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="workload size multiplier (the benchmark's own tests use a tiny one)",
    )
    args = ap.parse_args(argv)

    # functions defined here run in Python workers that cannot import the
    # benchmark's modules, so ship them by value
    for mod in (sparkrun, layers):
        cloudpickle.register_pickle_by_value(mod)

    base = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(base, "work", run_id)
    os.makedirs(work)
    cpus = sparkrun.nproc()
    try:
        event_log = os.path.join(work, "events") if args.trace else None
        sparkrun.configure_env(work, event_log)
        w = generate(args.workload, args.seed, args.scale)
        in_path = os.path.join(work, "input")
        w.write_parquet(in_path, n_files=cpus)
        zip_path = sparkrun.build_zip(ROOT, work)
        if args.trace:
            span_path = os.path.join(base, "spans", f"{run_id}.jsonl.gz")
            checked, mismatches, metrics, details = layers.run_traced(
                args, w, work, in_path, zip_path, cpus, event_log, span_path, run_id
            )
        else:
            checked, mismatches, metrics, details = run_untraced(
                args, w, work, in_path, zip_path, cpus
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "shape": w.shape(),
        "environment": sparkrun.environment(ROOT, cpus),
        "details": details,
    }
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{run_id}.json"), "w") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": mismatches == 0,
                "attempted": checked,
                "failed": mismatches,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
