"""Ingest drift monitoring — day-over-day L1 distance between categorical
distributions (event-type mix here; the same shape monitors token-vocabulary
or language mix on a document ingest).

A training-data pipeline at 10^12 rows cannot eyeball its ingest; the
standard tripwire is a distribution-shift stat between consecutive ingest
windows.  L1 (total variation ×2) is chosen over PSI/KL because it is
integer-exact: ``sum_et |c1*N2 - c2*N1|`` needs no logarithm, so the DuckDB
twin is value-exact (house rule).  ``drift_ppm = that sum * 10^6 DIV
(N1*N2)`` ranges 0..2,000,000.  (BIGINT envelope: per-day counts beyond
~3*10^9 should pre-scale; at that point you are drifting anyway.)

Spark shape, audited for 100 TB — JOIN-FREE day pairing:

* ONE scan → ``groupBy(day, event_type).count()`` partial agg (the only
  corpus-sized edge; carries (day, type, partial) rows);
* consecutive-day pairing uses NO self-join and NO full-outer join: the
  ≤#days distinct days are collected from the PERSISTED counts aggregate
  (one corpus scan total), indexed on the driver, and the tiny index is
  broadcast-joined onto the counts; then every count row FANS OUT to at
  most two (pair, side) contribution rows — (idx, as-current) and
  (idx-1, as-next) — and a second tiny aggregation on (pair, event_type)
  reassembles both sides.  Missing categories on either side materialize as
  zeros automatically (a one-sided contribution), which a join formulation
  needs FULL OUTER + coalesce to get right;
* per-pair totals are window sums over the pair partition (tiny frame),
  the final per-pair aggregate emits the stat; the default face eagerly
  collects the bounded (≤ #days) result and RELEASES the persist in a
  ``finally`` (``materialize=False`` hands ``(lazy plan, persisted
  counts handle)`` — the cache's lifetime AND the means to release it —
  to the caller).

Returns one row per consecutive-day pair: ``(day_from, day_to, n_from,
n_to, n_types, drift_ppm)``, ordered by day_from.  A component of the
``t_ops_audit`` driver row, not registered on its own, with a pytest
DuckDB-parity oracle.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "q_distribution_drift",
    "distribution_drift",
    "drift_from_counts",
    "ingest_counts",
    "drift_sql",
]


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return distribution_drift(
        read_table(spark, sf_dir, "events"), "event_type"
    )


def distribution_drift(
    events: DataFrame, cat_col: str, materialize: bool = True
) -> DataFrame:
    """By default the bounded result (≤ #days rows) is eagerly collected
    and the persisted counts table released in a ``finally`` (ADVICE r3:
    a long session otherwise accumulates live caches with no release
    path).  ``materialize=False`` returns ``(result, counts)`` instead —
    the lazy plan PLUS a handle to the persisted counts table, so the
    caller that now owns the cache's lifetime can actually release it
    (``counts.unpersist()``) — ADVICE r4: returning only the plan made
    the cache unreleasable except via ``spark.catalog.clearCache()``."""
    # persisted: the day-index collect below and the fan-out both read this
    # aggregate — without the persist Catalyst rebuilds it per consumer
    # (differently-pruned subtrees defeat exchange reuse) and the corpus
    # would be scanned three times
    counts = ingest_counts(events, cat_col).persist()
    keep = False
    try:
        result = drift_from_counts(events.sparkSession, counts)
        if not materialize:
            keep = True
            return result, counts
        rows, schema = result.collect(), result.schema
    finally:
        if not keep:
            counts.unpersist()
    return events.sparkSession.createDataFrame(rows, schema)


def ingest_counts(events: DataFrame, cat_col: str) -> DataFrame:
    """The one corpus-scan stage: ``(day, et, c)`` partial-agg counts."""
    return (
        events.select(
            F.col("ts").cast("date").alias("day"), F.col(cat_col).alias("et")
        )
        .groupBy("day", "et")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def drift_from_counts(spark: SparkSession, counts: DataFrame) -> DataFrame:
    day_list = sorted(
        r["day"] for r in counts.select("day").distinct().collect()
    )
    days = spark.createDataFrame(
        [(d, i) for i, d in enumerate(day_list)], "day DATE, idx INT"
    )
    idxed = counts.join(F.broadcast(days), "day")
    # fan-out: a day-idx count row contributes as the CURRENT side of pair
    # `idx` and the NEXT side of pair `idx - 1`
    contrib = idxed.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("idx").alias("pair"),
                    F.col("et"),
                    F.col("c").alias("c1"),
                    F.lit(0).cast("long").alias("c2"),
                    F.col("day").alias("day_from"),
                    F.lit(None).cast("date").alias("day_to"),
                ),
                F.struct(
                    (F.col("idx") - 1).alias("pair"),
                    F.col("et"),
                    F.lit(0).cast("long").alias("c1"),
                    F.col("c").alias("c2"),
                    F.lit(None).cast("date").alias("day_from"),
                    F.col("day").alias("day_to"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    n_days = len(day_list)
    paired = (
        contrib.where((F.col("pair") >= 0) & (F.col("pair") < n_days - 1))
        .groupBy("pair", "et")
        .agg(
            F.sum("c1").alias("c1"),
            F.sum("c2").alias("c2"),
            F.max("day_from").alias("day_from"),
            F.max("day_to").alias("day_to"),
        )
    )
    w = Window.partitionBy("pair")
    scored = paired.select(
        "pair",
        "et",
        "c1",
        "c2",
        F.sum("c1").over(w).alias("n1"),
        F.sum("c2").over(w).alias("n2"),
        F.max("day_from").over(w).alias("day_from"),
        F.max("day_to").over(w).alias("day_to"),
    )
    return (
        scored.groupBy("pair")
        .agg(
            F.max("day_from").alias("day_from"),
            F.max("day_to").alias("day_to"),
            F.max("n1").alias("n_from"),
            F.max("n2").alias("n_to"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.expr(
                "(sum(abs(c1 * n2 - c2 * n1)) * 1000000)"
                " DIV (max(n1) * max(n2))"
            ).cast("long").alias("drift_ppm"),
        )
        .select("day_from", "day_to", "n_from", "n_to", "n_types", "drift_ppm")
        .orderBy("day_from")
    )


def drift_sql(table: str = "events", cat_col: str = "event_type") -> str:
    """DuckDB twin — the naive formulation (lead-day full outer join),
    value-exact vs the join-free fan-out."""
    return f"""
WITH counts AS (
  SELECT CAST(ts AS DATE) AS day, {cat_col} AS et, count(*) AS c
  FROM {table} GROUP BY 1, 2
), days AS (
  SELECT day, row_number() OVER (ORDER BY day) - 1 AS idx
  FROM (SELECT DISTINCT day FROM counts)
), idxed AS (
  SELECT c.day, c.et, c.c, d.idx FROM counts c JOIN days d USING (day)
), pairs AS (
  SELECT coalesce(a.idx, b.idx - 1) AS pair,
         coalesce(a.c, 0) AS c1, coalesce(b.c, 0) AS c2
  FROM idxed a
  FULL OUTER JOIN idxed b ON a.et = b.et AND a.idx + 1 = b.idx
  WHERE coalesce(a.idx, b.idx - 1) >= 0
    AND coalesce(a.idx, b.idx - 1) < (SELECT max(idx) FROM days)
), tot AS (
  SELECT pair, c1, c2,
         sum(c1) OVER (PARTITION BY pair) AS n1,
         sum(c2) OVER (PARTITION BY pair) AS n2
  FROM pairs
), agg AS (
  SELECT pair, max(n1) AS n1, max(n2) AS n2, count(*) AS n_types,
         sum(abs(c1 * n2 - c2 * n1)) AS num
  FROM tot GROUP BY pair
)
SELECT d1.day AS day_from, d2.day AS day_to,
       CAST(t.n1 AS BIGINT) AS n_from, CAST(t.n2 AS BIGINT) AS n_to,
       CAST(t.n_types AS BIGINT) AS n_types,
       CAST(t.num * 1000000 // (t.n1 * t.n2) AS BIGINT) AS drift_ppm
FROM agg t
JOIN days d1 ON d1.idx = t.pair
JOIN days d2 ON d2.idx = t.pair + 1
ORDER BY day_from
"""
