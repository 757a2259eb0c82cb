"""Checkpoint-resumable extraction with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition lineage
and metrics tables".  Design (SURVEY.md §4):

* the input keyspace is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` —
  a stable, data-independent partitioning that also *salts* skewed
  conversations across buckets at the granularity that matters (bucket
  count ≫ conversation count per bucket);
* ONE input scan per run covers every not-yet-done bucket: the kernel runs
  on the input splits, and its narrow output is hash-shuffled once on
  ``bucket`` into ``P = defaultParallelism`` partitions (salted by
  ``conv_id`` into ``k = ceil(P / n_buckets)`` parts when P exceeds the
  bucket count), so each bucket is written by at most k tasks and a fresh
  run writes at most ``n_buckets * k`` data files, not tasks × buckets.
  Output lands under ``out_dir/tables/bucket=<b>/`` via
  ``write.partitionBy("bucket")`` with dynamic partition overwrite (only
  this run's buckets are replaced, so re-runs are idempotent), and a lineage
  row (bucket, n_buckets, status, n_turns, n_tables, wall_s, run_id) is
  appended to ``out_dir/_lineage/`` per bucket;
* resume = anti-join: buckets whose latest lineage status is ``ok`` are
  skipped; everything else re-runs.  A crash mid-write commits nothing (the
  parquet committer stages to _temporary), leaves no ``ok`` rows, and the
  next run redoes exactly the unfinished buckets — exactly-once at bucket
  granularity.  Bucket ids mean nothing across bucket counts, so a resume
  with another ``n_buckets`` than the ok rows record is refused, and so is
  one over tables that no ok row records (a crash between the table commit
  and the lineage append) when their rows hash to other buckets under the
  new count;
* metrics ride the write: ``n_turns`` and ``n_tables`` are one
  ``DataFrame.observe`` aggregate above the shuffle, in the write's result
  stage, read after the write — no second input scan and no re-read of the
  written files.  Each kernel task ends with one count row
  ``(bucket, n_turns, n_tables)`` per bucket it read, the observation
  collects the count rows, and the driver sums them per bucket, so the
  observation has one aggregate whatever the bucket count, and the driver
  holds at most (map tasks × todo buckets) count rows;
* the lineage rows are appended from an Arrow table, which the JVM decodes
  without a Python worker.

Storage is either a directory (``out_dir`` = path: ``<dir>/tables`` +
``<dir>/_lineage`` parquet) or a catalog (``out_dir`` = ``catalog:<prefix>``:
tables ``<prefix>_tables`` + ``<prefix>_lineage`` resolved through the
session catalog).  The catalog mode is the Iceberg path on a real cluster —
``INSERT OVERWRITE`` with dynamic partition overwrite maps to an Iceberg
replace-partitions snapshot commit, and the lineage append to an
append-files commit; the same code runs against the plain session catalog
here (tested), only the catalog config differs.
"""

from __future__ import annotations

import time
from typing import Dict, List, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .extract import extract_turns

__all__ = ["bucket_col", "completed_buckets", "run_with_lineage"]

LINEAGE_SCHEMA = (
    "bucket int, n_buckets int, status string, n_turns long, n_tables long, "
    "wall_s double, run_id string"
)


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


_CATALOG = "catalog:"


def _names(out_dir: str):
    """(is_catalog, tables_target, lineage_target) for either storage mode."""
    if out_dir.startswith(_CATALOG):
        prefix = out_dir[len(_CATALOG):]
        return True, f"{prefix}_tables", f"{prefix}_lineage"
    return False, f"{out_dir}/tables", f"{out_dir}/_lineage"


def _read(spark: SparkSession, is_cat: bool, target: str) -> DataFrame | None:
    """The table or parquet directory ``target``, or None when no run has
    written it yet."""
    if is_cat:
        return spark.table(target) if spark.catalog.tableExists(target) else None
    # existence pre-check via the Hadoop FS API where available (avoids the
    # JVM logging an alarming PATH_NOT_FOUND trace on every fresh run); the
    # read itself stays guarded so an unreadable dir (e.g. only a
    # _temporary left by a crash mid-append) or a Connect session without
    # the py4j bridge degrades to "not written" (for _lineage: no completed
    # buckets, so they re-run)
    try:
        path = spark._jvm.org.apache.hadoop.fs.Path(target)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return None
    except Exception:
        pass
    try:
        return spark.read.parquet(target)
    except Exception:
        return None


def _read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The lineage table, or None when no run has written one yet."""
    is_cat, _tables, lin_t = _names(out_dir)
    return _read(spark, is_cat, lin_t)


def _foreign_buckets(
    spark: SparkSession, out_dir: str, done: set, n_buckets: int
) -> List[int]:
    """Written buckets that no ok lineage row records and that hold a row
    an ``n_buckets`` run puts in another bucket: a run with another bucket
    count wrote them, and its lineage append was lost.  A resume would
    rewrite their tables into other buckets and leave these in place."""
    is_cat, tables_t, _lin = _names(out_dir)
    tables = _read(spark, is_cat, tables_t)
    if tables is None:
        return []
    stray = bucket_col(n_buckets) != F.col("bucket")
    if done:
        stray &= ~F.col("bucket").isin(sorted(done))
    return sorted(r.bucket for r in tables.where(stray).select("bucket").distinct().collect())


def _ok_rows(spark: SparkSession, out_dir: str) -> List[Row]:
    """Distinct ``(bucket, n_buckets)`` of the lineage rows marked ok."""
    lin = _read_lineage(spark, out_dir)
    if lin is None:
        return []
    return lin.where(F.col("status") == "ok").select("bucket", "n_buckets").distinct().collect()


def completed_buckets(spark: SparkSession, out_dir: str) -> List[int]:
    return sorted({r.bucket for r in _ok_rows(spark, out_dir)})


def _bucketed_tables(
    spark: SparkSession, transcripts: DataFrame, todo: List[int], n_buckets: int
) -> Tuple[DataFrame, Observation]:
    """The table rows of the ``todo`` buckets, hash-shuffled so that each
    bucket reaches at most ``ceil(P / n_buckets)`` writer tasks, with
    ``P = defaultParallelism``, and the observation of their counts: one
    ``counts`` list of ``(bucket, n_turns, n_tables)`` count rows, which
    :func:`_bucket_counts` sums."""
    src = transcripts.withColumn("bucket", bucket_col(n_buckets)).where(
        F.col("bucket").isin(todo)
    )
    # the kernel stays on the input splits
    rows = extract_turns(src)
    p = spark.sparkContext.defaultParallelism
    k = -(-p // n_buckets)
    keys = [F.col("bucket")]
    if k > 1:
        # murmur3, not xxhash64: pmod(xxhash64(conv_id), k) is a function of
        # the bucket whenever k shares a factor with n_buckets
        keys.append(F.pmod(F.hash("conv_id"), F.lit(k)))
    # an explicit partition count, which AQE does not coalesce
    rows = rows.repartition(p, *keys)
    # The counts are exactly-once only because the observed node sits in the
    # write's result stage, above the only shuffle: the count rows are map
    # output, a retried map task regenerates the same ones, and a reducer
    # reads one attempt's output; a retried or reused map stage does not
    # reach the observation, and the write sorts locally.  One aggregate
    # whatever the bucket count: observed metrics reject FILTER, but
    # collect_list skips the nulls the CASE leaves for table rows.  The
    # count rows are dropped only above the observation.
    obs = Observation()
    rows = rows.observe(
        obs,
        F.expr(
            "collect_list(CASE WHEN n_turns IS NOT NULL "
            "THEN struct(bucket, n_turns, n_tables) END)"
        ).alias("counts"),
    )
    return rows.where(F.col("n_turns").isNull()).drop("n_turns", "n_tables"), obs


def _bucket_counts(obs: Observation, todo: List[int]) -> Dict[int, List[int]]:
    """``[n_turns, n_tables]`` per todo bucket: the sum of its count rows,
    ``[0, 0]`` for a bucket without turns.  The driver holds at most
    (map tasks × todo buckets) count rows."""
    sums = {b: [0, 0] for b in todo}
    for r in obs.get["counts"]:
        sums[r.bucket][0] += r.n_turns
        sums[r.bucket][1] += r.n_tables
    return sums


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "run0",
    fail_after: int | None = None,
) -> List[int]:
    """Extract all buckets not yet marked ok; returns the buckets processed.

    Single-pass: one input scan feeds the write of every todo bucket, which
    also collects the lineage counts (the input is never re-scanned).
    ``wall_s`` is the run's wall time, recorded on each of the run's lineage
    rows.

    Raises ``ValueError`` before any write if ``out_dir`` holds ok buckets
    of another bucket count, or tables that no ok lineage row records and
    whose rows an ``n_buckets`` run puts in other buckets (a run with
    another count whose lineage append was lost): bucket ids do not carry
    over between counts.

    ``fail_after`` caps the run at N buckets (test hook simulating a crash
    between runs).
    """
    ok = _ok_rows(spark, out_dir)
    other = {r.n_buckets for r in ok} - {n_buckets}
    if other:
        raise ValueError(
            f"{out_dir} holds buckets of a {other.pop()}-bucket run; "
            f"cannot resume it with {n_buckets} buckets"
        )
    done = {r.bucket for r in ok}
    foreign = _foreign_buckets(spark, out_dir, done, n_buckets)
    if foreign:
        raise ValueError(
            f"{out_dir} holds unrecorded tables in bucket(s) {foreign} that "
            f"a {n_buckets}-bucket run does not put there; they come from a "
            f"run with another bucket count, so it cannot be resumed with "
            f"{n_buckets} buckets"
        )
    todo = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    if not todo:
        return []
    t0 = time.perf_counter()
    tables, obs = _bucketed_tables(spark, transcripts, todo, n_buckets)
    is_cat, tables_t, lin_t = _names(out_dir)
    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    old_mode = spark.conf.get(overwrite_key, None)
    spark.conf.set(overwrite_key, "dynamic")
    try:
        if is_cat:
            # catalog mode: INSERT OVERWRITE under dynamic partition
            # overwrite replaces only this run's bucket partitions — on an
            # Iceberg catalog this is one replace-partitions snapshot commit
            if not spark.catalog.tableExists(tables_t):
                tables.write.partitionBy("bucket").saveAsTable(tables_t)
            else:
                cols = spark.table(tables_t).columns  # insertInto is positional
                tables.select(*cols).write.mode("overwrite").insertInto(tables_t)
        else:
            tables.write.mode("overwrite").partitionBy("bucket").parquet(tables_t)
    finally:
        if old_mode is None:
            spark.conf.unset(overwrite_key)
        else:
            spark.conf.set(overwrite_key, old_mode)
    wall = time.perf_counter() - t0
    counts = _bucket_counts(obs, todo)
    rows = [(b, n_buckets, "ok", *counts[b], wall, run_id) for b in todo]
    # an Arrow table, which the JVM decodes itself; a list of tuples would
    # run a Python-worker job to build the rows
    schema = StructType.fromDDL(LINEAGE_SCHEMA)
    lineage = spark.createDataFrame(pa.table(dict(zip(schema.names, zip(*rows)))), schema)
    if is_cat:
        lineage.write.mode("append").saveAsTable(lin_t)
    else:
        lineage.write.mode("append").parquet(lin_t)
    return todo


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    is_cat, tables_t, _lin = _names(out_dir)
    return spark.table(tables_t) if is_cat else spark.read.parquet(tables_t)
