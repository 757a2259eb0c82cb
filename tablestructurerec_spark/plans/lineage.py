"""Checkpoint-resumable extraction with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition lineage
and metrics tables".  Design (SURVEY.md §4):

* the input keyspace is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` —
  a stable, data-independent partitioning that also *salts* skewed
  conversations across buckets at the granularity that matters (bucket
  count ≫ conversation count per bucket);
* ONE distributed job per run covers every not-yet-done bucket: the input
  is scanned ONCE, extraction output lands under
  ``out_dir/tables/bucket=<b>/`` via ``write.partitionBy("bucket")`` with
  dynamic partition overwrite (only this run's buckets are replaced, so
  re-runs are idempotent), and a lineage row
  (bucket, status, n_turns, n_tables, wall_s, run_id) is appended to
  ``out_dir/_lineage/`` per bucket;
* resume = anti-join: buckets whose latest lineage status is ``ok`` are
  skipped; everything else re-runs.  A crash mid-write commits nothing (the
  parquet committer stages to _temporary), leaves no ``ok`` rows, and the
  next run redoes exactly the unfinished buckets — exactly-once at bucket
  granularity;
* metrics ride the write job: ``n_turns`` and ``n_tables`` are two
  ``DataFrame.observe`` observations (one ``count_if`` per todo bucket) on
  the bucketed input and on the extract output, read after the write —
  no second input scan and no re-read of the written files.

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
from typing import List, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import extract_tables

__all__ = ["bucket_col", "completed_buckets", "run_with_lineage"]

LINEAGE_SCHEMA = "bucket int, status string, n_turns long, n_tables long, wall_s double, run_id string"


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


_CATALOG = "catalog:"


def _names(out_dir: str):
    """(is_catalog, tables_target, lineage_target) for either storage mode."""
    if out_dir.startswith(_CATALOG):
        prefix = out_dir[len(_CATALOG):]
        return True, f"{prefix}_tables", f"{prefix}_lineage"
    return False, f"{out_dir}/tables", f"{out_dir}/_lineage"


def _read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The lineage table, or None when no run has written one yet."""
    is_cat, _tables, lin_t = _names(out_dir)
    if is_cat:
        return spark.table(lin_t) if spark.catalog.tableExists(lin_t) else None
    # existence pre-check via the Hadoop FS API where available (avoids the
    # JVM logging an alarming PATH_NOT_FOUND trace on every fresh run); the
    # read itself stays guarded so an unreadable _lineage dir (e.g. only a
    # _temporary left by a crash mid-append) or a Connect session without
    # the py4j bridge degrades to "no completed buckets" and re-runs them
    try:
        path = spark._jvm.org.apache.hadoop.fs.Path(lin_t)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return None
    except Exception:
        pass
    try:
        return spark.read.parquet(lin_t)
    except Exception:
        return None


def completed_buckets(spark: SparkSession, out_dir: str) -> List[int]:
    lin = _read_lineage(spark, out_dir)
    if lin is None:
        return []
    ok = lin.where(F.col("status") == "ok").select("bucket").distinct()
    return sorted(r.bucket for r in ok.collect())


def _per_bucket_counts(df: DataFrame, todo: List[int]) -> Tuple[DataFrame, Observation]:
    """``df`` observed with one ``count_if`` per todo bucket, gathered in one
    array metric ``n`` in ``todo`` order.  One SQL expression, not a Column
    per bucket: each Column built in Python is a driver round trip (~0.3 s
    for 64 buckets)."""
    obs = Observation()
    counts = ", ".join(f"count_if(bucket = {b})" for b in todo)
    return df.observe(obs, F.expr(f"array({counts})").alias("n")), obs


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "run0",
    fail_after: int | None = None,
) -> List[int]:
    """Extract all buckets not yet marked ok; returns the buckets processed.

    Single-pass: one distributed write job covers every todo bucket and
    collects the lineage counts (the input is never re-scanned).  ``wall_s``
    is the run's wall time, recorded on each of the run's lineage rows.

    ``fail_after`` caps the run at N buckets (test hook simulating a crash
    between runs).
    """
    done = set(completed_buckets(spark, out_dir))
    todo = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    if not todo:
        return []
    t0 = time.perf_counter()
    src = transcripts.withColumn("bucket", bucket_col(n_buckets)).where(
        F.col("bucket").isin(todo)
    )
    # The counts are exactly-once only because both observed nodes sit in
    # the write's single result stage (extract_tables is narrow, the
    # partitioned write sorts locally): a shuffle between them and the write
    # would let a retried or reused stage count its rows twice.
    src, turns_obs = _per_bucket_counts(src, todo)
    # bucket is a pure function of conv_id, so the output re-derives it —
    # extract_tables keeps its narrow 3-column projection into mapInPandas
    tables = extract_tables(src).withColumn("bucket", bucket_col(n_buckets))
    tables, tables_obs = _per_bucket_counts(tables, todo)
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
    rows = [
        (b, "ok", n_turns, n_tables, wall, run_id)
        for b, n_turns, n_tables in zip(todo, turns_obs.get["n"], tables_obs.get["n"])
    ]
    lineage = spark.createDataFrame(rows, LINEAGE_SCHEMA)
    if is_cat:
        lineage.write.mode("append").saveAsTable(lin_t)
    else:
        lineage.write.mode("append").parquet(lin_t)
    return todo


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    is_cat, tables_t, _lin = _names(out_dir)
    return spark.table(tables_t) if is_cat else spark.read.parquet(tables_t)
