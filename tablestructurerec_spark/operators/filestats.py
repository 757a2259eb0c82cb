"""Input-file balance audit — the pre-flight check a 100 TB job runs before
committing a cluster to a scan: per-file row counts and corpus share, so
under-split inputs (one 2 TB file next to ten thousand 10 MB ones) are
caught BEFORE they serialize a stage (SCALING.md §5b's input-split
equalization is the fix this operator tells you to apply).

One scan, counts only: ``input_file_name()`` → partial-agg count per file.
Nothing leaves the executors but (file, count) pairs — output cardinality
is the FILE count, not the row count.  ``split_factor`` is the number of
``TARGET_ROWS_PER_TASK`` chunks the file spans — files with factor ≫ 1 are
the stragglers ``spark.sql.files.maxPartitionBytes`` (or a rewrite) must
split; a corpus whose every file has factor 1 and near-equal ``share_ppm``
scans embarrassingly parallel.

All-integer output (``DIV`` both engines); the DuckDB twin reads the same
files with ``read_parquet(..., filename=true)``, joining on basename so
``file:///`` prefixes don't enter the contract.  Standalone operator with
pytest parity on both a multi-file directory (deterministic hash-partition
write) and the single-file bench tables.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "q_file_balance",
    "file_balance_audit",
    "file_balance_sql",
    "TARGET_ROWS_PER_TASK",
]

TARGET_ROWS_PER_TASK = 65_536


def q_file_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return file_balance_audit(spark, f"{sf_dir}/documents.parquet")


def file_balance_audit(spark: SparkSession, path: str) -> DataFrame:
    """``(file, n_rows, share_ppm, split_factor)`` per input file under
    ``path``, ordered by file — one scan, bounded output."""
    df = spark.read.parquet(path)
    per_file = (
        df.select(
            # input_file_name() returns a percent-ENCODED file: URI while
            # DuckDB's filename is the raw path — decode before taking the
            # basename or 'my file.parquet' reports as 'my%20file.parquet'
            # and the parity contract breaks (found in review).  Decode
            # PERCENT-ESCAPES ONLY: url_decode is application/x-www-form-
            # urlencoded, which also maps '+' to a space, but a literal '+'
            # in a path is NOT escaped in the URI — pre-escaping it to %2B
            # makes url_decode a pure percent-decoder, so 'a+b.parquet'
            # round-trips (ADVICE r4)
            F.regexp_extract(
                F.expr("url_decode(replace(input_file_name(), '+', '%2B'))"),
                "([^/]+)$",
                1,
            ).alias("file")
        )
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    totals = per_file.agg(F.sum("n_rows").alias("total_rows"))
    return (
        per_file.crossJoin(F.broadcast(totals))
        .select(
            "file",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.expr("n_rows * 1000000 DIV total_rows").alias("share_ppm"),
            F.expr(
                f"(n_rows + {TARGET_ROWS_PER_TASK} - 1) DIV {TARGET_ROWS_PER_TASK}"
            ).alias("split_factor"),
        )
        .orderBy("file")
    )


def file_balance_sql(path: str) -> str:
    """DuckDB twin of :func:`file_balance_audit` over the same ``path``
    (a directory of part files or one bare ``.parquet`` file)."""
    import os

    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    return f"""
WITH per_file AS (
  SELECT regexp_extract(filename, '[^/]+$') AS file, COUNT(*) AS n_rows
  FROM read_parquet('{src}', filename=true)
  GROUP BY 1
), totals AS (SELECT SUM(n_rows) AS total_rows FROM per_file)
SELECT file,
       n_rows::BIGINT AS n_rows,
       (n_rows * 1000000 // total_rows)::BIGINT AS share_ppm,
       ((n_rows + {TARGET_ROWS_PER_TASK} - 1) // {TARGET_ROWS_PER_TASK})::BIGINT AS split_factor
FROM per_file, totals ORDER BY file
"""
