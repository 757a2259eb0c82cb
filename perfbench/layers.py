"""The traced run: per-layer numbers, each timed from outside the program.

Spark layers are timed by calling each layer's public functions on the
workload's parquet and sending the result to the ``noop`` sink (the lineage
layer writes for real).  The extract stage's Arrow traffic and task times
come from Spark's event log.  The kernel is then run in this process over
the workload's fragments, once plain and once with a timer wrapped around
every name ``core.pipeline`` calls, which gives per-stage seconds and calls
and the tracing overhead.

Spans (name, start, end, parent, run id) and counts are kept in memory and
written to one JSON-lines file when the run ends.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import statistics
import time
import zlib
from collections import defaultdict
from typing import Callable, Dict, List

from pyspark.sql import functions as F

import sparkrun
from oracle import check_output
from tablestructurerec_spark.core import pipeline
from tablestructurerec_spark.core.html_parse import find_table_fragments
from tablestructurerec_spark.functions.text import has_table_col
from tablestructurerec_spark.plans.extract import clean_turns, extract_tables
from tablestructurerec_spark.plans.lineage import bucket_col, run_with_lineage
from tablestructurerec_spark.sources.transcripts import read_transcripts

# (metric name, the name core.pipeline calls it by), in pipeline order
STAGES = (
    ("core.html_parse.parse_table_html", "parse_table_html"),
    ("core.html_parse.quads_from_logic_points", "quads_from_logic_points"),
    ("core.recover.recover_logic_points", "recover_logic_points"),
    ("core.lore_post.snap_and_round_logic", "snap_and_round_logic"),
    ("core.pipeline.synth_ocr_fragments", "synth_ocr_fragments"),
    ("core.geometry.match_ocr_to_cells", "match_ocr_to_cells"),
    ("core.html_render.backfill_empty_cells", "backfill_empty_cells"),
    ("core.html_render.cell_records_from_match", "cell_records_from_match"),
    ("core.geometry.duplicate_box_indices", "duplicate_box_indices"),
    ("core.html_render.merge_grid_duplicates", "merge_grid_duplicates"),
    ("core.geometry.reading_order", "reading_order"),
    ("core.geometry.gather_ocr_rows", "gather_ocr_rows"),
    ("core.html_render.render_table_html", "render_table_html"),
)
FIND = "core.html_parse.find_table_fragments"
PROCESS = "core.pipeline.process_table_html"
EXTRACT = "plans.extract.extract_tables"
PLAIN_WRITE = "plans.lineage.plain_write"
SPARK_LAYERS = (
    "sources.read",
    "plans.extract.clean_turns",
    "plans.extract.handoff",
    EXTRACT,
    "plans.lineage.run_with_lineage",
    PLAIN_WRITE,
)


class Tracer:
    """Spans in memory: ``[id, name, start, end, parent]``, times in seconds
    since the tracer was created."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: List[list] = []
        self.stack: List[int] = []
        self.counts: Dict[str, float] = {}

    def wrap(self, name: str, fn: Callable) -> Callable:
        spans, stack, clock, t0 = self.spans, self.stack, time.perf_counter, self.t0

        def traced(*args, **kwargs):
            rec = [len(spans), name, clock() - t0, None, stack[-1] if stack else None]
            spans.append(rec)
            stack.append(rec[0])
            try:
                return fn(*args, **kwargs)
            finally:
                rec[3] = clock() - t0
                stack.pop()

        return traced

    def begin(self, name: str) -> list:
        """Open a span by hand; close it with :meth:`end`."""
        rec = [len(self.spans), name, time.perf_counter() - self.t0, None,
               self.stack[-1] if self.stack else None]
        self.spans.append(rec)
        self.stack.append(rec[0])
        return rec

    def end(self, rec: list) -> None:
        rec[3] = time.perf_counter() - self.t0
        self.stack.pop()

    def run(self, name: str, fn: Callable, *args, **kwargs):
        return self.wrap(name, fn)(*args, **kwargs)

    def durations(self, name: str) -> List[float]:
        return [s[3] - s[2] for s in self.spans if s[1] == name]

    def write(self, path: str) -> None:
        """One JSON object per span, then one with the counts; gzipped."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with gzip.open(path, "wt") as fh:
            for sid, name, start, end, parent in self.spans:
                fh.write(
                    json.dumps(
                        {"run_id": self.run_id, "id": sid, "name": name,
                         "start": start, "end": end, "parent": parent}
                    ) + "\n"
                )
            fh.write(json.dumps({"run_id": self.run_id, "counts": self.counts}) + "\n")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _spark_layers(spark, in_path: str, out_dir: str, k: int):
    """Pass ``k`` over the Spark layers: (name, zero-argument callable) in
    ``SPARK_LAYERS`` order."""

    def read():
        return read_transcripts(spark, in_path)

    def handoff():
        src = read().where(has_table_col(F.col("text"))).select("conv_id", "turn_idx", "text")
        _noop(src.mapInPandas(_identity, "conv_id string, turn_idx int, text string"))

    def plain_write():
        tables = extract_tables(read()).withColumn("bucket", bucket_col(sparkrun.BUCKETS))
        tables.write.partitionBy("bucket").parquet(f"{out_dir}/plain{k}")

    def lineage():
        run_with_lineage(spark, read(), f"{out_dir}/lineage{k}", n_buckets=sparkrun.BUCKETS)

    fns = (
        lambda: _noop(read()),
        lambda: _noop(clean_turns(read())),
        handoff,
        lambda: _noop(extract_tables(read())),
        lineage,
        plain_write,
    )
    return zip(SPARK_LAYERS, fns)


def _event_log_metrics(event_dir: str, group: str) -> Dict[str, float]:
    """Arrow bytes and task seconds of the Python stage of ``group``'s jobs."""
    (path,) = glob.glob(os.path.join(event_dir, "*"))
    stages = set()
    per_stage: Dict[int, List[float]] = defaultdict(lambda: [0.0, 0.0])
    task_s: List[float] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                acc = {a["Name"]: a.get("Update", 0) for a in ev["Task Info"]["Accumulables"]}
                if "data sent to Python workers" not in acc:
                    continue
                sums = per_stage[ev["Stage ID"]]
                sums[0] += float(acc["data sent to Python workers"])
                sums[1] += float(acc.get("data returned from Python workers", 0))
                info = ev["Task Info"]
                task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    if not task_s:
        raise RuntimeError(f"no Python-stage tasks for job group {group!r} in the event log")
    return {
        "to_python": statistics.median(s[0] for s in per_stage.values()),
        "from_python": statistics.median(s[1] for s in per_stage.values()),
        "task_s_p50": statistics.median(task_s),
        "task_s_max": max(task_s),
    }


def _kernel_pass(turns, find: Callable, process: Callable) -> Dict[str, int]:
    """Every fragment of every prefiltered turn through the kernel, with the
    extract stage's per-table catch: a failure is an error row."""
    n_tables = n_errors = n_cells = 0
    for conv_id, turn_idx, text in turns:
        for ti, (_, _, html) in enumerate(find(text)):
            n_tables += 1
            seed = zlib.crc32(f"{conv_id}|{turn_idx}|{ti}".encode())
            try:
                n_cells += process(html, seed)["n_cells"]
            except Exception:  # noqa: BLE001 - mirrors the Spark stage
                n_errors += 1
    return {"tables": n_tables, "errors": n_errors, "cells": n_cells}


def _kernel_metrics(tracer: Tracer, w) -> Dict[str, tuple]:
    cols = w.columns
    turns = [
        t for t in zip(cols["conv_id"], cols["turn_idx"], cols["text"])
        if "<table" in t[2].lower()
    ]
    # a tenth of the turns first, so neither timed pass pays the warm-up
    tracer.run("kernel.warmup", _kernel_pass, turns[: len(turns) // 10 + 1],
               find_table_fragments, pipeline.process_table_html)
    t0 = time.perf_counter()
    tracer.run("kernel.untraced", _kernel_pass, turns, find_table_fragments,
               pipeline.process_table_html)
    plain_s = time.perf_counter() - t0

    originals = {attr: getattr(pipeline, attr) for _, attr in STAGES}
    try:
        for name, attr in STAGES:
            setattr(pipeline, attr, tracer.wrap(name, originals[attr]))
        t0 = time.perf_counter()
        counts = tracer.run(
            "kernel.traced", _kernel_pass, turns,
            tracer.wrap(FIND, find_table_fragments),
            tracer.wrap(PROCESS, pipeline.process_table_html),
        )
        traced_s = time.perf_counter() - t0
    finally:
        for attr, fn in originals.items():
            setattr(pipeline, attr, fn)
    tracer.counts.update({f"kernel.{k}": v for k, v in counts.items()})

    # a stage's seconds and calls; process_table_html's self time is its
    # own spans minus the stage spans directly under them
    by_name: Dict[str, List[float]] = defaultdict(list)
    child_s = 0.0
    for _, name, start, end, parent in tracer.spans:
        if end is None:  # the run's own span is still open
            continue
        by_name[name].append(end - start)
        if parent is not None and tracer.spans[parent][1] == PROCESS:
            child_s += end - start
    m: Dict[str, tuple] = {}
    for name in [FIND] + [n for n, _ in STAGES]:
        m[f"{name}_s"] = (sum(by_name[name]), "s")
        m[f"{name}_calls"] = (len(by_name[name]), "count")
    parse = by_name["core.html_parse.parse_table_html"]
    m["core.html_parse.parse_table_html_max_ms"] = (1000 * max(parse), "ms")
    tables, cells = counts["tables"], counts["cells"]
    recovers = len(by_name["core.recover.recover_logic_points"])
    process_s = sum(by_name[PROCESS])
    m["core.pipeline.recover_calls_per_table"] = (recovers / tables, "ratio")
    m["core.pipeline.process_table_html_self_s"] = (process_s - child_s, "s")
    m["core.pipeline.process_table_html_us_per_table"] = (1e6 * process_s / tables, "us")
    m["core.pipeline.process_table_html_us_per_cell"] = (1e6 * process_s / cells, "us")
    m["core.pipeline.kernel_s"] = (plain_s, "s")
    m["trace.overhead_ratio"] = (traced_s / plain_s, "ratio")
    return m


def run_traced(args, w, work, in_path, zip_path, cpus, event_log, span_path, run_id):
    """(checked, mismatches, metrics, details) of the per-layer run."""
    tracer = Tracer(run_id)
    run_span = tracer.begin("run")
    spark = tracer.run("setup", sparkrun.start_session, zip_path, cpus)
    layer_dir = os.path.join(work, "layers")
    checked = mismatches = 0
    examples: List[str] = []
    try:
        for k in range(sparkrun.WARMUP_JOBS):
            out = os.path.join(work, f"job{k}")
            tracer.run("warmup_job", sparkrun.run_job, spark, in_path, out, f"job{k}")
            res = check_output(w, out)
            checked += res.checked
            mismatches += res.mismatches
            examples += res.examples
            shutil.rmtree(out)

        # passes over every layer until --seconds is spent, at least one;
        # each layer's jobs carry its name as job group for the event log
        sc = spark.sparkContext
        passes = 0
        t_layers = time.perf_counter()
        while passes == 0 or time.perf_counter() - t_layers < args.seconds:
            for name, fn in _spark_layers(spark, in_path, layer_dir, passes):
                sc.setJobGroup(name, name)
                tracer.run(name, fn)
            passes += 1
        sc.setJobGroup("counts", "counts")
        to_python = read_transcripts(spark, in_path).where(has_table_col(F.col("text"))).count()
    finally:
        sparkrun.shutdown(spark)

    med = {name: statistics.median(tracer.durations(name)) for name in SPARK_LAYERS}
    m: Dict[str, tuple] = {
        f"workload.{k}": (v, "B" if k == "input_bytes" else "count")
        for k, v in w.shape().items()
    }
    m["setup.cold_s"] = (tracer.durations("setup")[0], "s")
    m.update({f"{name}_s": (v, "s") for name, v in med.items() if name != PLAIN_WRITE})
    m["plans.lineage.overhead_s"] = (
        med["plans.lineage.run_with_lineage"] - med[PLAIN_WRITE], "s"
    )
    m["plans.extract.turns_to_python"] = (to_python, "count")
    m["plans.extract.tables_out"] = (res.tables, "count")
    m["plans.extract.error_rows"] = (res.error_rows, "count")
    m["plans.extract.prefilter_useful_ratio"] = (res.turns_with_tables / to_python, "ratio")
    ev = _event_log_metrics(event_log, EXTRACT)
    m["spark.arrow_bytes_to_python"] = (ev["to_python"], "B")
    m["spark.arrow_bytes_from_python"] = (ev["from_python"], "B")
    m["spark.task_s_p50"] = (ev["task_s_p50"], "s")
    m["spark.task_s_max"] = (ev["task_s_max"], "s")
    m.update(_kernel_metrics(tracer, w))
    kernel_s = m["core.pipeline.kernel_s"][0]
    m["plans.extract.kernel_share"] = (kernel_s / cpus / med[EXTRACT], "ratio")

    tracer.end(run_span)
    tracer.counts.update(
        spark_layer_passes=passes, turns_to_python=to_python,
        tables_out=res.tables, error_rows=res.error_rows,
    )
    tracer.write(span_path)
    metrics = {name: {"value": v, "unit": u} for name, (v, u) in m.items()}
    details = {
        "spark_layer_passes": passes,
        "span_file": os.path.relpath(span_path),
        "mismatch_examples": examples[:5],
    }
    return checked, mismatches, metrics, details
