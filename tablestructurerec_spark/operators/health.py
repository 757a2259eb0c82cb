"""Per-source corpus health report — ONE scan fusing the map-only audit
signals (degenerate-generation loops, Luhn-valid PANs, encoding damage)
into the per-source summary an ingest dashboard actually shows.

Why fusion matters at 100 TB: each signal alone is a full corpus scan; a
dashboard polling five audits pays five scans.  Every signal here is a pure
row-local expression (the ``t_text_profile`` consolidation precedent), so
the whole report is ONE scan → ONE partial-agg shuffle on source, with the
per-doc expressions imported from their home modules (`degen`, `luhn`,
`mojibake`) — the report and the standalone audits share the definitions
and cannot drift.

The DuckDB twin composes the SAME modules' oracle SQL as subqueries
(left-joined per doc_id, then aggregated), so parity here transitively
re-checks the three component oracles against their Spark expressions in
one statement.

Returns one row per source: ``(source, n_docs, n_degenerate, n_cc_docs,
n_damaged, degen_ppm, cc_ppm, damaged_ppm)``.  Registered as the
``t_source_health`` driver row, with a pytest DuckDB-parity oracle.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.degen import (
    _RUN1,
    _RUN2,
    CYCLE2_LIMIT,
    RUN_LIMIT,
)
from tablestructurerec_spark.operators.luhn import _SPARK_VALID, cc_sql
from tablestructurerec_spark.operators.mojibake import (
    _MOJIBAKE_SQL,
    damage_count_cols,
    damage_score_col,
    is_damaged_col,
)

__all__ = ["QUERIES", "ORACLE_SQL", "q_source_health", "source_health", "health_sql"]


def q_source_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return source_health(read_table(spark, sf_dir, "documents"))


def source_health(docs: DataFrame) -> DataFrame:
    """Per-doc row-local flags, then bounded-key per-source counters."""
    from tablestructurerec_spark.operators.textstats import tokens_col

    staged = docs.select(
        "source",
        "text",
        tokens_col(F.col("text")).alias("toks"),
        *damage_count_cols(),
    )
    flags = staged.select(
        "source",
        (
            (F.expr(_RUN1) >= RUN_LIMIT) | (F.expr(_RUN2) >= CYCLE2_LIMIT)
        ).alias("is_degen"),
        F.expr(
            f"aggregate({_SPARK_VALID}, 0, (a, x) -> a + x) > 0"
        ).alias("has_cc"),
        is_damaged_col(damage_score_col()).alias("is_damaged"),
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("is_degen"), 1)).cast("long").alias("n_degenerate"),
        F.count(F.when(F.col("has_cc"), 1)).cast("long").alias("n_cc_docs"),
        F.count(F.when(F.col("is_damaged"), 1)).cast("long").alias("n_damaged"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_degenerate",
        "n_cc_docs",
        "n_damaged",
        F.expr("n_degenerate * 1000000 DIV n_docs").alias("degen_ppm"),
        F.expr("n_cc_docs * 1000000 DIV n_docs").alias("cc_ppm"),
        F.expr("n_damaged * 1000000 DIV n_docs").alias("damaged_ppm"),
    ).orderBy("source")


def health_sql() -> str:
    """DuckDB twin — composes the degen / luhn / mojibake oracle SQL as
    per-doc subqueries, transitively re-checking all three."""
    from tablestructurerec_spark.operators.degen import degen_sql

    return f"""
WITH flags AS (
  SELECT d.source,
         (g.max_run >= {RUN_LIMIT} OR g.max_cycle2 >= {CYCLE2_LIMIT}) AS is_degen,
         coalesce(c.has_valid_cc, false) AS has_cc,
         m.is_damaged
  FROM documents d
  LEFT JOIN ({degen_sql()}) g USING (doc_id)
  LEFT JOIN ({cc_sql()}) c USING (doc_id)
  LEFT JOIN ({_MOJIBAKE_SQL}) m USING (doc_id)
), agg AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(count(CASE WHEN is_degen THEN 1 END) AS BIGINT) AS n_degenerate,
         CAST(count(CASE WHEN has_cc THEN 1 END) AS BIGINT) AS n_cc_docs,
         CAST(count(CASE WHEN is_damaged THEN 1 END) AS BIGINT) AS n_damaged
  FROM flags GROUP BY source
)
SELECT source, n_docs, n_degenerate, n_cc_docs, n_damaged,
       n_degenerate * 1000000 // n_docs AS degen_ppm,
       n_cc_docs * 1000000 // n_docs AS cc_ppm,
       n_damaged * 1000000 // n_docs AS damaged_ppm
FROM agg
ORDER BY source
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_source_health": q_source_health,
}

ORACLE_SQL: Dict[str, str] = {
    "t_source_health": health_sql(),
}
