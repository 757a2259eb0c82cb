"""Fused corpus-sketch audit — KMV + HyperLogLog distinct estimates and
count-min heavy hitters in ONE registered row (the ``t_text_profile``
consolidation pattern, VERDICT r3 #6: same-table families fuse so more of
the operator inventory rides the driver's 50-row registry cap).

The fused face REUSES the three modules' own query functions verbatim —
``kmv.distinct_kmv``, ``hll.distinct_hll``, ``cms.q_heavy_hitters_cms`` —
and reshapes their outputs into one tall all-BIGINT frame
``(metric, key, value)``; the DuckDB oracle composes the modules' own SQL
twins with UNION ALL.  A green driver row therefore certifies all three
sketch implementations end-to-end (the ``health.py`` composed-transitive-
oracle discipline): nothing is re-implemented here, so the audit cannot
drift from the operators it certifies.

Metrics: ``kmv_n_kept`` / ``kmv_kth_hv`` / ``kmv_est`` (key = source),
``hll_v_zero`` / ``hll_z`` / ``hll_est`` (key = source), and ``cms_heavy``
(key = token, value = count-min estimate).  All integers — exact under any
reduction order, hash-exact across engines.

Spark shape: the three constituents stay their own scale-audited shapes
(window-group-limit KMV, register-merge HLL, sampled-candidate CMS); the
fusion is a unionByName of their small outputs — no new shuffle of corpus
data.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.cms import cms_sql, q_heavy_hitters_cms
from tablestructurerec_spark.operators.hll import hll_sql, q_distinct_hll
from tablestructurerec_spark.operators.kmv import kmv_sql, q_distinct_kmv

__all__ = ["QUERIES", "ORACLE_SQL", "q_sketch_audit", "sketch_audit_sql"]


def _tall(df: DataFrame, metrics: Dict[str, str], key: str) -> DataFrame:
    """Reshape (key, m1, m2, ...) → rows of (metric, key, value).

    One explode per sketch, NOT one union branch per metric: a per-metric
    select re-executes the sketch's aggregation subtree once per metric
    and stacks shuffle partitions per branch under the final sort (the
    ``opsaudit._tall`` finding — measured 3× the sum of parts there).
    Row-identical to the union form."""
    row = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("metric"),
                    F.col(key).cast("string").alias("key"),
                    F.col(col).cast("long").alias("value"),
                )
                for name, col in metrics.items()
            ]
        )
    ).alias("x")
    return df.select(row).select("x.metric", "x.key", "x.value")


def q_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    kmv = q_distinct_kmv(spark, sf_dir)
    hll = q_distinct_hll(spark, sf_dir)
    cms = q_heavy_hitters_cms(spark, sf_dir)
    return (
        _tall(
            kmv,
            {"kmv_n_kept": "n_kept", "kmv_kth_hv": "kth_hv", "kmv_est": "est_distinct"},
            "source",
        )
        .unionByName(
            _tall(
                hll,
                {"hll_v_zero": "v_zero", "hll_z": "z_scaled", "hll_est": "est_distinct"},
                "source",
            )
        )
        .unionByName(
            _tall(cms, {"cms_heavy": "est_count"}, "tok")
        )
        .orderBy("metric", "key")
    )


def sketch_audit_sql() -> str:
    """Composed DuckDB oracle: the constituents' own SQL twins, reshaped."""

    def tall(sql: str, metrics: Dict[str, str], key: str) -> str:
        return " UNION ALL ".join(
            f"SELECT '{name}' AS metric, CAST({key} AS VARCHAR) AS key, "
            f"CAST({col} AS BIGINT) AS value FROM ({sql})"
            for name, col in metrics.items()
        )

    return f"""
SELECT metric, key, value FROM (
  {tall(kmv_sql(), {"kmv_n_kept": "n_kept", "kmv_kth_hv": "kth_hv", "kmv_est": "est_distinct"}, "source")}
  UNION ALL
  {tall(hll_sql(), {"hll_v_zero": "v_zero", "hll_z": "z_scaled", "hll_est": "est_distinct"}, "source")}
  UNION ALL
  {tall(cms_sql(), {"cms_heavy": "est_count"}, "tok")}
)
ORDER BY metric, key
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_sketch_audit": q_sketch_audit,
}

ORACLE_SQL: Dict[str, str] = {
    "t_sketch_audit": sketch_audit_sql(),
}
