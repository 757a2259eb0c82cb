"""Spark side of the benchmark: session set-up, the timed job, teardown.

The job is what a user submits: read the transcripts parquet with
``read_transcripts``, write the tables with ``run_with_lineage`` into a fresh
directory, and write the ``clean_turns`` main text as parquet.

Everything the run writes stays under the work directory inside the
checkout: Spark's local dirs, the JVM's temp dir and the event log.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import sys
import tempfile
import time
import zipfile
from typing import Dict, List, Optional

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import SparkSession

from tablestructurerec_spark.plans.extract import clean_turns
from tablestructurerec_spark.plans.lineage import run_with_lineage
from tablestructurerec_spark.session import get_spark
from tablestructurerec_spark.sources.transcripts import read_transcripts

# the bucket count scripts/run_extract.py defaults to
BUCKETS = 64
PACKAGE = "tablestructurerec_spark"
# untimed jobs before any timing, so the JVM's compiler has settled
WARMUP_JOBS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, event_log: Optional[str] = None) -> None:
    """Point every temp and scratch location of the driver, the JVM and the
    Python workers into ``work``; must run before the first session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("PYTHONPATH", None)  # workers import the shipped zip only
    # every JVM, spark-submit's launcher included: temp files in the work
    # dir and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.abspath(event_log)}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    tempfile.tempdir = None  # re-read TMPDIR


def build_zip(root: str, work: str) -> str:
    """Zip the package the way ``spark-submit --py-files`` ships it."""
    path = os.path.join(work, f"{PACKAGE}.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for d, dirs, files in os.walk(os.path.join(root, PACKAGE)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    zf.write(full, os.path.relpath(full, root))
    return path


def _warm_workers(it):
    """Runs in each Python worker: finish the imports the extract stage
    needs, report the worker's pid."""
    import tablestructurerec_spark.plans.extract  # noqa: F401

    for _ in it:
        yield pd.DataFrame({"pid": [os.getpid()]})


def start_session(zip_path: str, cpus: int) -> SparkSession:
    """Session start, package ship, and one worker per core spawned with its
    imports done.  Barrier mode launches the ``cpus`` tasks together, so
    each needs a worker of its own."""
    spark = get_spark(app="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(zip_path)
    probe = spark.range(cpus, numPartitions=cpus).mapInPandas(
        _warm_workers, "pid long", barrier=True
    )
    pids = {r.pid for r in probe.collect()}
    if len(pids) != cpus:
        raise RuntimeError(f"expected {cpus} warm workers, got {len(pids)}")
    return spark


def setup_samples(zip_path: str, cpus: int, n: int):
    """(session, [seconds per set-up]).  The first set-up launches the JVM;
    each later one stops the session and starts a new one in the same JVM,
    which again starts the context, ships the package and spawns and
    imports a fresh set of workers."""
    samples: List[float] = []
    spark = None
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(zip_path, cpus)
        samples.append(time.perf_counter() - t0)
    return spark, samples


def shutdown(spark: Optional[SparkSession]) -> None:
    """Stop the session, then wait for the JVM and every process under it
    (the Python daemon and its workers) to end; kill any left after 30 s."""
    pids = _descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_job(spark: SparkSession, in_path: str, out_dir: str, run_id: str) -> float:
    """One submitted job; returns its wall seconds."""
    t0 = time.perf_counter()
    df = read_transcripts(spark, in_path)
    run_with_lineage(spark, df, out_dir, n_buckets=BUCKETS, run_id=run_id)
    clean_turns(df).select("conv_id", "turn_idx", "main_text").write.parquet(
        f"{out_dir}/main_text"
    )
    return time.perf_counter() - t0


def output_bytes(out_dir: str) -> int:
    """Bytes of the data files a job wrote (tables, lineage, main text);
    checksum sidecars and ``_SUCCESS`` markers are not output."""
    total = 0
    for d, _, files in os.walk(out_dir):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def _children(pid: int) -> List[int]:
    """Children of every thread of ``pid`` (the JVM forks the Python
    daemon from a worker thread, not its main one)."""
    kids: List[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return kids


def _descendants() -> List[int]:
    """Every process under this one, parents before children."""
    out: List[int] = []
    stack = [os.getpid()]
    while stack:
        kids = _children(stack.pop())
        out += kids
        stack += kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def worker_peak_rss_mb() -> float:
    """Largest ``VmHWM`` of any Python worker under this process (the
    daemon that forks them is included; its peak is far smaller)."""
    peak_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    if peak_kb == 0:
        raise RuntimeError("no Python worker found under the driver")
    return peak_kb / 1024.0


def environment(root: str, cpus: int) -> Dict[str, object]:
    """The run's environment, recorded with every result."""
    import hashlib

    import pyarrow
    import pyspark

    from tablestructurerec_spark.session import ARROW_BATCH_ROWS

    commit = None  # a checkout without .git records only the source digest
    if os.path.exists(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    digest = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(root, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "nproc": nproc(),
        "master": f"local[{cpus}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pd.__version__,
        "python": sys.version.split()[0],
        "arrow_batch_rows": ARROW_BATCH_ROWS,
        "git_commit": commit,
        "package_sha256": digest.hexdigest(),
    }
