#!/usr/bin/env python
"""Benchmark: headline queries + flagship extraction throughput.

Default: runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the cores the process may use) and
prints ONE COMPACT JSON line as the last stdout line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "n_queries": ...,
   "queries": {"flagship_extract": sec}, "sf": ..., "turns_per_sec": ...,
   "detail_file": "BENCH/bench_detail_sf<sf>_cpus<n>.json"}
The full per-query map lives in detail_file, NOT on stdout: the driver
captures a bounded stdout tail, and an 86-entry per-query dict outgrew it
in round 3 (the machine-readable result line must not scale with suite
size).

--scaling: additionally measures extraction throughput at local[N] and
local[4N] in fresh subprocesses (the sandbox stand-in for N vs 4N executors,
per BASELINE.json's north rule) and writes the throughputs and the N→4N
scaling efficiency to BENCH/scaling_sf<sf>.json.  --scaling-only runs just
that measurement.

--extract-only: internal mode used by --scaling children.

--queries a,b,c: restrict the timed suite to the named queries (the sf10
subset point for the quadratic-prone families); the detail file gets a
"_subset" suffix so it never overwrites the full-suite record.

The result line carries "codegen_failures": the count of whole-stage-
codegen compile failures ("Failed to compile the generated Java code") in
the session's captured stderr — 0 expected; any other value means queries
silently ran interpreted (VERDICT r4).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from tablestructurerec_spark.session import default_cpus  # noqa: E402

CPUS = default_cpus()


def _sf_number(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        # the sf label sizes the synthetic corpus and is recorded in the
        # result JSON — a silent default would mislabel a custom corpus
        sys.stderr.write(
            f"[bench] WARNING: cannot parse scale factor from {sf_dir!r}; "
            "assuming sf=0.1 (corpus sizing and the result's \"sf\" field "
            "reflect that assumption, not the actual input scale)\n"
        )
        return 0.1


# extraction corpus size scales with sf: sf0.1 → 2000 conversations
def _n_convs(sf: float) -> int:
    return max(int(20000 * sf), 50)


def _force(df) -> None:
    """Fully execute a plan without driver-side collect.

    A noop-sink WRITE, not count(): count() lets Catalyst prune every
    projection-only expression (a clean_turns/count plan collapses to
    'Aggregate [count(1)] <- Project <empty>' and times nothing), while the
    noop v2 sink consumes whole rows, forcing every column's computation.
    """
    df.write.format("noop").mode("overwrite").save()


def _run_extraction(spark, sf: float, n_convs: int | None = None, reps: int = 1) -> tuple[float, int]:
    """Timed extraction over a persisted synthetic corpus.

    ``reps > 1`` returns the best (warm) run — scaling efficiency concerns
    steady-state throughput, not python-worker cold start.
    """
    from tablestructurerec_spark.plans.extract import clean_turns, extract_tables
    from tablestructurerec_spark.sources.synthetic import synth_transcripts

    transcripts = synth_transcripts(
        spark, n_convs=n_convs or _n_convs(sf), mean_turns=8, seed=42
    )
    transcripts = transcripts.persist()
    n_turns = transcripts.count()  # materialize input outside the timed window

    best = float("inf")
    for _ in range(max(reps, 1)):
        t0 = time.perf_counter()
        _force(extract_tables(transcripts))
        _force(clean_turns(transcripts))
        best = min(best, time.perf_counter() - t0)
    transcripts.unpersist()
    return best, n_turns


def _ship(spark) -> None:
    import __spark_entry__ as entry_mod

    entry_mod._ship_package(spark)


def _warm_python_workers(spark) -> None:
    """Spawn + import-warm one python worker per core with a trivial
    mapInPandas, so the timed queries measure extraction, not interpreter
    start-up (~0.5 s/worker of pandas/numpy/package imports, paid once per
    executor in steady state — BASELINE.json's metric is throughput)."""

    def _noop(batches):
        import tablestructurerec_spark.core.pipeline  # noqa: F401

        yield from batches

    df = spark.range(CPUS * 4, numPartitions=CPUS)
    df.mapInPandas(_noop, df.schema).count()


def _replicate_corpus(spark, mult: int, out_dir: str) -> None:
    """Materialize a deterministic ``mult``-fold corpus from $SPARK_GRAFT_SF_DIR
    into ``out_dir`` (documents/events/embeddings scaled with shifted keys,
    replica text " repN"-perturbed into near-duplicates; the small TPC-ish
    dims copied verbatim).  Usage:

        python bench.py --replicate 10 --out /tmp/tsr-sf1
        SPARK_GRAFT_SF_DIR=/tmp/tsr-sf1 python bench.py

    This is the sf1 bench point: no external data, pure replication of the
    driver-generated tables."""
    import shutil

    from pyspark.sql import functions as F

    from tablestructurerec_spark.sources.read import read_table

    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(mult).withColumnRenamed("id", "rep")

    docs = read_table(spark, SF_DIR, "documents")
    stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * stride).alias("doc_id"),
            # rep 0 byte-identical (query-id literals keep meaning); others
            # perturbed to near-duplicates — realistic dup structure
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat("text", F.lit(" rep"), F.col("rep").cast("string")))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )

    ev = read_table(spark, SF_DIR, "events")
    m = ev.agg(F.max("event_id"), F.max("user_id")).collect()[0]
    (
        ev.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * (m[0] + 1)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * (m[1] + 1)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    stride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * stride).alias("vec_id"),
            "embedding",
            "label",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )

    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        src = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(src):
            dst = f"{out_dir}/{t}.parquet"
            if os.path.isdir(src):
                shutil.copytree(src, dst, dirs_exist_ok=True)
            else:
                shutil.copy(src, dst)
    print(f"replicated x{mult} -> {out_dir}")


def _capture_stderr():
    """Redirect fd 2 to a file BEFORE the JVM launches (the gateway child
    inherits fd 2 at spawn), so the whole session's stderr — log4j ERROR
    lines included — is inspectable after the run.  Returns
    ``(file, saved_fd)`` for :func:`_codegen_failures`."""
    import tempfile

    f = tempfile.NamedTemporaryFile(
        prefix="tsr_bench_stderr_", suffix=".log", mode="w+", delete=False
    )
    saved = os.dup(2)
    os.dup2(f.fileno(), 2)
    return f, saved


def _codegen_failures(f, saved) -> int:
    """Restore fd 2 and count whole-stage-codegen compile failures in the
    captured stderr.  VERDICT r4 #2: the URL family's janino failure shipped
    unnoticed because the ERROR lines scrolled past — the count now rides
    the machine-readable result line (0 expected), so a codegen regression
    can never ship silently again."""
    os.dup2(saved, 2)
    os.close(saved)
    f.flush()
    f.seek(0)
    data = f.read()
    f.close()
    os.unlink(f.name)
    n = data.count("Failed to compile the generated Java code")
    if n:
        # surface a bounded excerpt on the REAL stderr so the failure is
        # also human-visible, without re-polluting the driver's tail with
        # the full janino dump
        first = data.find("Failed to compile the generated Java code")
        sys.stderr.write(
            f"[bench] {n} codegen compile failure(s); first at stderr "
            f"offset {first}:\n" + data[first:first + 1500] + "\n"
        )
    return n


def _timed_queries() -> dict:
    """Every timed query: the driver rows plus every operator module's
    ``QUERIES`` — the driver rows' operator faces and the few queries
    registered beyond them, each named with its reason in
    ``tests/test_operator_reach.py``.  The codegen pin compiles the same
    set.  ``flagship_extract`` and ``s1_clean_turns`` are left out: the
    extraction pass times the flagship separately."""
    import __spark_entry__ as entry_mod
    from tablestructurerec_spark.operators import collect

    timed = {**entry_mod.queries(), **collect("QUERIES")}
    del timed["flagship_extract"], timed["s1_clean_turns"]
    return timed


def main() -> None:
    from tablestructurerec_spark.session import get_spark

    sf = _sf_number(SF_DIR)
    extract_only = "--extract-only" in sys.argv

    if "--scaling-only" in sys.argv:
        _scaling_report(sf)
        return

    if "--replicate" in sys.argv:
        mult = int(sys.argv[sys.argv.index("--replicate") + 1])
        out = sys.argv[sys.argv.index("--out") + 1]
        spark = get_spark(app="tsr-replicate", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        _replicate_corpus(spark, mult, out)
        spark.stop()
        return

    err_file, err_saved = _capture_stderr()
    spark = get_spark(app="tsr-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    _ship(spark)

    if extract_only:
        # scaling-mode child: 64x corpus (~1M turns at sf0.1) so fixed
        # overhead (worker spawn, scheduling) is <5% even at the higher
        # parallelism; best-of-2 excludes residual cold-start
        dt, n_turns = _run_extraction(spark, sf, n_convs=64 * _n_convs(sf), reps=2)
        spark.stop()
        nfail = _codegen_failures(err_file, err_saved)
        print(json.dumps({"cpus": CPUS, "sec": round(dt, 3), "turns": n_turns,
                          "turns_per_sec": round(n_turns / dt, 1),
                          "codegen_failures": nfail}))
        return

    queries = _timed_queries()

    if "--queries" in sys.argv:
        # subset mode (the sf10 scaling point runs only the quadratic-prone
        # families): comma-separated names, unknown names are an error
        wanted = sys.argv[sys.argv.index("--queries") + 1].split(",")
        unknown = [w for w in wanted if w not in queries and w != "flagship_extract"]
        if unknown:
            sys.exit(f"unknown --queries names: {unknown}")
        queries = {k: v for k, v in queries.items() if k in wanted}
    timings: dict[str, float] = {}

    _warm_python_workers(spark)
    # Subset runs time only the named queries: the flagship extraction (a
    # synth + 2-rep corpus pass, minutes at sf≥1) runs only when asked for
    # by name — a per-family sf10 point must not pay it on every invocation.
    run_flagship = "--queries" not in sys.argv or "flagship_extract" in wanted
    ext_sec, n_turns = 0.0, 0
    if run_flagship:
        # best-of-2: first rep still pays JIT/codegen for the extraction plan
        # itself; the metric is steady-state turns/sec (see BASELINE.json)
        ext_sec, n_turns = _run_extraction(spark, sf, reps=2)
        timings["flagship_extract"] = round(ext_sec, 3)

    # best-of-2 per query: rep 1 pays codegen/JIT compile and is exposed to
    # scheduler noise on the shared box; the metric is steady-state latency.
    # --reps 1 exists for the sf10 pair-hostile points where a single rep
    # already costs tens of minutes (the JIT warm-up is noise at that size).
    n_reps = (
        int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 2
    )
    for name, fn in queries.items():
        best = float("inf")
        for _ in range(n_reps):
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    spark.stop()
    n_codegen_failures = _codegen_failures(err_file, err_saved)
    detail = {
        "metric": "bench_suite_seconds",
        "value": total,
        "codegen_failures": n_codegen_failures,
        "unit": "sec",
        # the suite GREW round over round (r1 ~40, r2 ~53, r3 ~86 timed
        # queries) — totals across rounds are not comparable; compare the
        # per-query map (and mind the shared box's ~2x contention phases)
        "n_queries": len(timings),
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / ext_sec, 1) if run_flagship else None,
    }
    # Per-query detail goes to a FILE; stdout's LAST line is a compact
    # totals-only JSON.  The driver captures a bounded tail of stdout, and
    # an 86-entry per-query dict outgrew it in round 3 ("parsed": null in
    # BENCH_r03.json — VERDICT r3 #2): the machine-readable perf signal
    # must never scale with suite size.
    os.makedirs(os.path.join(REPO_ROOT, "BENCH"), exist_ok=True)
    # subset runs get their own detail file — a --queries run must never
    # overwrite the full-suite record
    subset_tag = "_subset" if "--queries" in sys.argv else ""
    detail_file = os.path.join(
        "BENCH", f"bench_detail_sf{sf}_cpus{CPUS}{subset_tag}.json"
    )
    with open(os.path.join(REPO_ROOT, detail_file), "w") as f:
        json.dump(detail, f, indent=1)
    compact = {
        "metric": "bench_suite_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        # 0 expected: whole-stage-codegen compile failures counted from the
        # session's captured stderr (VERDICT r4 #2 — a janino failure means
        # queries silently ran interpreted and must never ship unnoticed)
        "codegen_failures": n_codegen_failures,
        # headline only — full per-query map in detail_file
        "queries": (
            {"flagship_extract": timings["flagship_extract"]} if run_flagship else timings
        ),
        "sf": sf,
        "cpus": CPUS,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / ext_sec, 1) if run_flagship else None,
        "detail_file": detail_file,
    }
    print(json.dumps(compact))

    if "--scaling" in sys.argv:
        _scaling_report(sf)


def _mp_kernel_ceiling(levels: tuple[int, int]) -> float:
    """Hardware scaling ceiling: the same extraction kernel under plain
    multiprocessing (no Spark).  On one box, 4x the busy cores drops per-core
    clocks/memory bandwidth — this measures that, so the Spark number can be
    judged against what the silicon allows rather than an ideal 4.0x."""
    import multiprocessing as mp

    total = 3200
    chunks = [(i * total // 96, (i + 1) * total // 96) for i in range(96)]
    rates = {}
    ctx = mp.get_context()
    for procs in levels:
        # a barrier all workers + the parent wait on guarantees EVERY
        # worker has finished its pandas/numpy imports before t0 is taken
        # (Pool() returns while initializers are still running, and a
        # warm-up map lets a fast worker steal two tasks and leave a cold
        # one inside the measurement); chunksize=1 gives both levels
        # identical work-stealing granularity (the default chunksize varies
        # with pool size, load-balancing the Zipf conversation skew
        # differently at N vs 4N)
        barrier = ctx.Barrier(procs + 1)
        with ctx.Pool(procs, initializer=_mp_warm, initargs=(barrier,)) as pool:
            try:
                barrier.wait(timeout=120)
            except Exception:
                pass  # degrade to unsynchronized start rather than hang
            t0 = time.perf_counter()
            tot = sum(pool.map(_mp_work, chunks, chunksize=1))
            rates[procs] = tot / (time.perf_counter() - t0)
    return (rates[levels[1]] / rates[levels[0]]) / (levels[1] / levels[0])


def _mp_warm(barrier) -> None:
    import tablestructurerec_spark.core.pipeline  # noqa: F401
    import tablestructurerec_spark.sources.synthetic  # noqa: F401

    try:
        barrier.wait(timeout=120)
    except Exception:
        pass


def _mp_work(args: tuple[int, int]) -> int:
    lo, hi = args
    from tablestructurerec_spark.core.html_parse import find_table_fragments
    from tablestructurerec_spark.core.pipeline import process_table_html
    from tablestructurerec_spark.sources.synthetic import _rows_for_conv

    n = 0
    for conv in range(lo, hi):
        for t in _rows_for_conv(42, conv, 8)["text"]:
            for _, _, h in find_table_fragments(t):
                process_table_html(h, 0)
                n += 1
    return n


def _scaling_report(sf: float) -> None:
    """Same input, N vs 4N parallelism at two N choices, fresh JVMs;
    efficiencies + single-box hardware ceilings, printed and written to
    BENCH/scaling_sf<sf>.json."""
    pairs = ((4, 16), (8, 32))
    levels = sorted({c for p in pairs for c in p})
    # Three sweeps over all levels.  The shared box drifts through fast/slow
    # phases lasting minutes, so an efficiency ratio is only meaningful when
    # its two levels ran adjacent in time: compute per-pair efficiency
    # WITHIN each sweep and report the MEDIAN sweep per pair (the honest
    # steady-state statistic — a max over sweeps is optimistic selection;
    # taking per-level minima across sweeps is worse still, pairing a lucky
    # phase at one level with a normal one at the other — observed swinging
    # 8→32 from 0.90 to 0.60).
    sweeps: list[dict[int, dict]] = []
    for _sweep in range(3):
        res: dict[int, dict] = {}
        for n in levels:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(n), SPARK_GRAFT_SF_DIR=SF_DIR)
            for attempt in (1, 2):  # one retry: shared-box children can die
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--extract-only"],
                    env=env, capture_output=True, text=True,
                )
                if out.returncode == 0:
                    break
                sys.stderr.write(
                    f"[scaling] local[{n}] child failed (attempt {attempt}):\n"
                    + out.stderr[-2000:] + "\n"
                )
            else:
                raise RuntimeError(f"local[{n}] child failed twice")
            res[n] = json.loads(out.stdout.strip().splitlines()[-1])
        sweeps.append(res)

    def _eff(res: dict[int, dict], p: tuple[int, int]) -> float:
        return (res[p[1]]["turns_per_sec"] / res[p[0]]["turns_per_sec"]) / (p[1] / p[0])

    import statistics

    effs = {p: statistics.median(_eff(s, p) for s in sweeps) for p in pairs}
    eff_min = {p: min(_eff(s, p) for s in sweeps) for p in pairs}
    # per-level row: the sweep with the median wall time at that level
    results = {
        n: sorted((s[n] for s in sweeps), key=lambda r: r["sec"])[len(sweeps) // 2]
        for n in levels
    }
    ceilings = {p: _mp_kernel_ceiling(p) for p in pairs}
    report = json.dumps({
        "pairs": {f"{a}->{b}": {"efficiency_median": round(effs[(a, b)], 3),
                                "efficiency_min": round(eff_min[(a, b)], 3),
                                "ceiling": round(ceilings[(a, b)], 3)}
                  for a, b in pairs},
        "levels": results,
    })
    os.makedirs(os.path.join(REPO_ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO_ROOT, "BENCH", f"scaling_sf{sf}.json"), "w") as f:
        f.write(report + "\n")
    print(report)


if __name__ == "__main__":
    main()
