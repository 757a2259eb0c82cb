"""Key-skew audit — the diagnostic a 100 TB job runs BEFORE choosing its
partitioning: per-key row-count distribution, heavy-key mass share, and a
recommended salt factor for the hottest key.

The north rule demands explicit skew handling (conv_id-salted partitions);
this operator is the measurement that justifies the salt.  The transcript
synthesizer deliberately makes conversation sizes Zipfian
(``sources/synthetic.py _conv_turn_count``), so the audit over conv_id is
exercised against genuinely skewed data in tests — and over
``events.user_id`` for the DuckDB oracle tables.

Shape, audited for 100 TB:

* ONE scan of the fact table → ``groupBy(key).count()`` with map-side
  partial aggregation — the only corpus-sized shuffle, carrying (key,
  partial-count) rows;
* the counts table (|keys| rows, orders of magnitude smaller) is persisted
  (scan-once guarantee, PMI precedent) and summarized twice: a scalar
  aggregate (n_rows / n_keys / max) and EXACT p50/p99 of the per-key count
  distribution via the histogram-refinement kernel
  (``quantiles.refine_quantiles``) — no global sort of the counts table,
  which at 10^9 keys would itself be a skew hazard;
* everything surfaced is ALL-INTEGER (ppm shares via ``* 10^6 DIV``), so
  the DuckDB twin — which computes the same ranks the naive way, one
  ``row_number`` sort — is value-exact;
* ``salt_factor = ceil(max_key_rows / 100_000)``: the fan-out that caps any
  single (key, salt) task at ~100k rows; 1 means no salting needed.

Returns ONE row: ``(key_col, n_rows, n_keys, max_key_rows, p50_key_rows,
p99_key_rows, top1_share_ppm, salt_factor)``.  A component of the
``t_ops_audit`` driver row, not registered on its own, with a pytest
DuckDB-parity oracle.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.quantiles import refine_quantiles

__all__ = [
    "q_skew_audit",
    "skew_audit",
    "skew_audit_sql",
    "TARGET_ROWS_PER_TASK",
    "AUDIT_PROBS",
]

TARGET_ROWS_PER_TASK = 100_000
AUDIT_PROBS: List[Tuple[int, int, str]] = [(1, 2, "p50"), (99, 100, "p99")]
_SCHEMA = (
    "key_col STRING, n_rows BIGINT, n_keys BIGINT, max_key_rows BIGINT,"
    " p50_key_rows BIGINT, p99_key_rows BIGINT, top1_share_ppm BIGINT,"
    " salt_factor BIGINT"
)


def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew audit of ``events`` keyed by ``user_id``."""
    from tablestructurerec_spark.sources.read import read_table

    return skew_audit(spark, read_table(spark, sf_dir, "events"), "user_id")


def skew_audit(spark: SparkSession, df: DataFrame, key_col: str) -> DataFrame:
    counts = (
        df.groupBy(key_col).agg(F.count(F.lit(1)).alias("c")).persist()
    )
    try:
        s = counts.agg(
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("mx"),
        ).collect()[0]
        # ADVICE r3: an empty input makes sum(c) NULL — a defined empty
        # result beats a TypeError out of int(None) (and guards the ppm
        # division), mirroring refine_quantiles' null discipline
        if s["n_rows"] is None or int(s["n_rows"]) == 0:
            return spark.createDataFrame([], _SCHEMA)
        vals = counts.select(
            F.lit("all").alias("source"), F.col("c").cast("long").alias("v")
        )
        targets, _ = refine_quantiles(spark, vals, AUDIT_PROBS)
    finally:
        counts.unpersist()
    q = {t["label"]: t["lo"] for t in targets}
    n_rows, n_keys, mx = int(s["n_rows"]), int(s["n_keys"]), int(s["mx"])
    row = (
        key_col,
        n_rows,
        n_keys,
        mx,
        q["p50"],
        q["p99"],
        mx * 1_000_000 // n_rows,
        max(1, (mx + TARGET_ROWS_PER_TASK - 1) // TARGET_ROWS_PER_TASK),
    )
    return spark.createDataFrame([row], _SCHEMA)


def skew_audit_sql(table: str = "events", key_col: str = "user_id") -> str:
    """DuckDB twin — same integer rank convention, computed the naive way
    (one full sort of the counts table)."""
    return f"""
WITH counts AS (
  SELECT {key_col} AS k, count(*) AS c FROM {table} GROUP BY {key_col}
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c) AS rn FROM counts
), s AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
         CAST(max(c) AS BIGINT) AS mx
  FROM counts
)
SELECT '{key_col}' AS key_col, s.n_rows, CAST(s.n_keys AS BIGINT) AS n_keys,
       s.mx AS max_key_rows,
       (SELECT c FROM ranked, s WHERE rn = greatest(1, (s.n_keys + 1) // 2)) AS p50_key_rows,
       (SELECT c FROM ranked, s WHERE rn = greatest(1, (99 * s.n_keys + 99) // 100)) AS p99_key_rows,
       s.mx * 1000000 // s.n_rows AS top1_share_ppm,
       greatest(1, (s.mx + {TARGET_ROWS_PER_TASK} - 1) // {TARGET_ROWS_PER_TASK}) AS salt_factor
FROM s
"""
