"""Checkpoint-resumable extraction with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition lineage
and metrics tables".  Design (SURVEY.md §4):

* the input keyspace is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` —
  a stable, data-independent partitioning that also *salts* skewed
  conversations across buckets at the granularity that matters (bucket
  count ≫ conversation count per bucket).  The bucket is the unit of
  *resume*, not of file layout;
* one run is one commit.  ONE input scan per run covers every not-yet-done
  bucket, and the kernel's output is written where it runs, with no
  shuffle, as one flat file set per run: ``out_dir/tables/commit=<id>/``,
  with ``bucket`` an ordinary column.  ``<id>`` is generated per run
  (a letter, the start time in ns and a random suffix), so ids never repeat
  and partition inference keeps them strings.  A fresh run writes at most
  one data file per kernel task, i.e. per input split, whatever the bucket
  count.  Then one lineage row (bucket, n_buckets, status, n_turns,
  n_tables, wall_s, run_id, commit) per bucket is appended to
  ``out_dir/_lineage/``;
* the lineage rows marked ok are the commit record that readers go by:
  :func:`read_output` returns, for each bucket, the rows of exactly one ok
  commit (the smallest id, i.e. the earliest) through a semi-join on
  ``(bucket, commit)``.  A crash before the table commit commits nothing
  (the parquet committer stages to _temporary); a crash between the table
  commit and the lineage append leaves an orphan commit that no ok row
  names, which readers ignore.  Orphans are not vacuumed; deleting one by
  hand is safe while no run is in flight;
* resume = anti-join: buckets with an ok lineage row are skipped;
  everything else re-runs — exactly-once at bucket granularity.  Bucket ids
  mean nothing across bucket counts, so a resume with another ``n_buckets``
  than the ok rows record is refused.  An orphan commit is invisible, so a
  resume after a lost lineage append is correct with any bucket count.  An
  ``out_dir`` of the older per-bucket partition layout (lineage without
  ``commit``) is refused by both the run and the reader;
* metrics ride the write: ``n_turns`` and ``n_tables`` are one
  ``DataFrame.observe`` aggregate in the write's only stage, which is its
  result stage, read after the write — no second input scan and no re-read
  of the written files.  Each kernel task ends with one count row
  ``(bucket, n_turns, n_tables)`` per bucket it read, the observation
  collects the count rows, and the driver sums them per bucket, so the
  observation has one aggregate whatever the bucket count, and the driver
  holds at most (tasks × todo buckets) count rows;
* the lineage rows are one Arrow table.  In path mode the driver writes it
  as one parquet file per run, ``_lineage/part-<commit>.parquet``, through
  the session's Hadoop ``FileSystem`` under a ``_tmp-`` name and renames it
  into place, so a fresh run is one Spark job and a crash before the rename
  leaves nothing a reader sees.  In catalog mode the JVM decodes the Arrow
  table without a Python worker and appends it.

Storage is either a directory (``out_dir`` = path: ``<dir>/tables`` +
``<dir>/_lineage`` parquet) or a catalog (``out_dir`` = ``catalog:<prefix>``:
tables ``<prefix>_tables``, partitioned by ``commit``, + ``<prefix>_lineage``
resolved through the session catalog).  The catalog mode is the Iceberg path
on a real cluster — the table write and the lineage append are each an
append-files snapshot commit; the same code runs against the plain session
catalog here (tested), only the catalog config differs.
"""

from __future__ import annotations

import time
import uuid
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .extract import extract_turns

__all__ = ["bucket_col", "completed_buckets", "read_output", "run_with_lineage"]

LINEAGE_SCHEMA = (
    "bucket int, n_buckets int, status string, n_turns long, n_tables long, "
    "wall_s double, run_id string, commit string"
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


def _ok_rows(spark: SparkSession, out_dir: str) -> List[Row]:
    """Distinct ``(bucket, n_buckets, commit)`` of the lineage rows marked
    ok.  Raises ``ValueError`` on a lineage without ``commit``: the older
    per-bucket partition layout, which neither a run nor a reader can use."""
    is_cat, _tables, lin_t = _names(out_dir)
    lin = _read(spark, is_cat, lin_t)
    if lin is None:
        return []
    if "commit" not in lin.columns:
        raise ValueError(
            f"{out_dir} holds the old per-bucket partition layout (tables "
            f"under bucket=<b>, lineage without a commit column); write to a "
            f"fresh out_dir"
        )
    ok = lin.where(F.col("status") == "ok")
    return ok.select("bucket", "n_buckets", "commit").distinct().collect()


def completed_buckets(spark: SparkSession, out_dir: str) -> List[int]:
    return sorted({r.bucket for r in _ok_rows(spark, out_dir)})


def _bucketed_tables(
    transcripts: DataFrame, todo: List[int], n_buckets: int
) -> Tuple[DataFrame, Observation]:
    """The table rows of the ``todo`` buckets, each with its bucket, on the
    input's splits, and the observation of their counts: one ``counts`` list
    of ``(bucket, n_turns, n_tables)`` count rows, which
    :func:`_bucket_counts` sums."""
    src = transcripts.withColumn("bucket", bucket_col(n_buckets))
    if len(todo) < n_buckets:  # a filter of every bucket keeps every row
        src = src.where(F.col("bucket").isin(todo))
    rows = extract_turns(src)
    # The counts are exactly-once only because the observed node sits in the
    # write's only stage, which is its result stage: Spark credits a result
    # task's accumulator updates once per partition, so a retried or
    # speculative attempt does not count its rows twice.  A shuffle between
    # the observation and the write would put the observation in a map
    # stage, whose resubmitted tasks would count again.  One aggregate
    # whatever the bucket count: observed metrics reject FILTER, but
    # collect_list skips the nulls the CASE leaves for table rows.  The count
    # rows are dropped only above the observation.
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
    (tasks × todo buckets) count rows."""
    sums = {b: [0, 0] for b in todo}
    for r in obs.get["counts"]:
        sums[r.bucket][0] += r.n_turns
        sums[r.bucket][1] += r.n_tables
    return sums


def _new_commit() -> str:
    """A commit id no other run has: a letter first, so partition inference
    keeps it a string, then the start time, so ids sort by it."""
    return f"c{time.time_ns()}{uuid.uuid4().hex[:8]}"


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "run0",
    fail_after: int | None = None,
) -> List[int]:
    """Extract all buckets not yet marked ok; returns the buckets processed.

    Single-pass and one commit: one input scan feeds one flat write of every
    todo bucket, which also collects the lineage counts (the input is never
    re-scanned); the lineage rows, which name the commit, are appended
    after it.  ``wall_s`` is the run's wall time, recorded on each of the
    run's lineage rows.

    Raises ``ValueError`` before any write if ``out_dir`` holds ok buckets
    of another bucket count (bucket ids do not carry over between counts),
    or is of the older per-bucket partition layout.

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
    todo = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    if not todo:
        return []
    t0 = time.perf_counter()
    tables, obs = _bucketed_tables(transcripts, todo, n_buckets)
    is_cat, tables_t, lin_t = _names(out_dir)
    commit = _new_commit()
    if is_cat:
        # one new partition of a table partitioned by commit; on an Iceberg
        # catalog this is one append-files snapshot commit
        tables.withColumn("commit", F.lit(commit)).write.mode("append").partitionBy(
            "commit"
        ).saveAsTable(tables_t)
    else:
        tables.write.parquet(f"{tables_t}/commit={commit}")
    wall = time.perf_counter() - t0
    counts = _bucket_counts(obs, todo)
    rows = [(b, n_buckets, "ok", *counts[b], wall, run_id, commit) for b in todo]
    schema = StructType.fromDDL(LINEAGE_SCHEMA)
    lineage = pa.table(dict(zip(schema.names, zip(*rows))), to_arrow_schema(schema))
    if is_cat:
        # an Arrow table, which the JVM decodes itself; a list of tuples
        # would run a Python-worker job to build the rows
        spark.createDataFrame(lineage, schema).write.mode("append").saveAsTable(lin_t)
    else:
        _append_file(spark, lin_t, commit, lineage)
    return todo


def _append_file(spark: SparkSession, lin_t: str, commit: str, lineage: pa.Table) -> None:
    """Append ``lineage`` to the parquet directory ``lin_t`` as one file,
    ``part-<commit>.parquet``, written from the driver through the session's
    Hadoop ``FileSystem`` (so every scheme a table write takes), without a
    Spark job.  The file is written as ``_tmp-<commit>.parquet`` and then
    renamed: readers skip ``_`` files, so a crash before the rename leaves
    nothing visible, and a resume redoes the run's buckets."""
    buf = pa.BufferOutputStream()
    pq.write_table(lineage, buf)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(f"{lin_t}/_tmp-{commit}.parquet")
    fs = tmp.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(f"{lin_t}/part-{commit}.parquet")):
        raise OSError(f"could not rename {tmp} into place")


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The written table rows with their ``bucket``: for each bucket, the
    rows of its smallest ok commit.  Commits that no ok lineage row names
    (a crash before the lineage append) are ignored."""
    is_cat, tables_t, _lin = _names(out_dir)
    first: Dict[int, str] = {}
    for r in _ok_rows(spark, out_dir):
        first[r.bucket] = min(first.get(r.bucket, r.commit), r.commit)
    ok = spark.createDataFrame(
        pa.table({"bucket": pa.array(list(first), pa.int32()),
                  "commit": pa.array(list(first.values()), pa.string())}),
        "bucket int, commit string",
    )
    tables = spark.table(tables_t) if is_cat else spark.read.parquet(tables_t)
    # a join condition, not using-columns, which would move the keys first
    keys = (tables.bucket == ok.bucket) & (tables.commit == ok.commit)
    return tables.join(ok, keys, "left_semi").drop("commit")
