"""Snapshot reconciliation — added / removed / changed / unchanged between
two corpus versions, the audit an incremental-ingest pipeline runs after
every refresh (in production: two Iceberg snapshots of the same table; here
snapshot B is a deterministic transformation of the fixture so the DuckDB
twin can derive the identical pair).

Spark shape, audited for 100 TB:

* each side is projected to ``(doc_id, content_md5)`` AT THE SCAN — text
  never reaches the join, the full-outer join carries two thin columns;
* the join is the textbook co-located candidate: both sides large, same
  key, repeated every refresh.  The operator itself joins plainly (AQE
  decides); ``tests/test_snapshot.py`` pins the production layout — both
  sides written with ``plans.bucketing.write_bucketed`` on doc_id join with
  ZERO Exchange (the shuffle is paid once at write, amortized across every
  refresh audit);
* the result is the bounded 4-row status summary — per-doc detail stays
  distributed (filter the joined frame by status instead of collecting).

Returns ``(status, n_docs)`` ordered by status.  A component of the
``t_ops_audit`` driver row, not registered on its own, with a pytest
DuckDB-parity oracle.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "q_snapshot_diff",
    "snapshot_diff",
    "snapshot_sql",
    "synth_snapshot_b",
]

# Deterministic snapshot-B transformation knobs (fixture-only; production
# passes two real table versions to snapshot_diff).
_RM_MOD, _RM_VAL = 17, 3  # removed docs
_CH_MOD, _CH_VAL = 13, 5  # changed text
_ADD_MOD, _ADD_VAL = 19, 2  # cloned-as-new docs


def synth_snapshot_b(docs: DataFrame) -> DataFrame:
    """The fixture's 'next version': drop some docs, edit some texts, add
    some new ids — all pure doc_id arithmetic, mirrored in the oracle."""
    kept = docs.where(F.col("doc_id") % _RM_MOD != _RM_VAL).select(
        "doc_id",
        F.when(
            F.col("doc_id") % _CH_MOD == _CH_VAL, F.concat("text", F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    added = docs.where(F.col("doc_id") % _ADD_MOD == _ADD_VAL).select(
        (F.col("doc_id") + F.lit(mx + 1)).alias("doc_id"),
        F.concat("text", F.lit(" new")).alias("text"),
    )
    return kept.unionByName(added)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, sf_dir, "documents")
    return snapshot_diff(docs, synth_snapshot_b(docs))


def snapshot_diff(snap_a: DataFrame, snap_b: DataFrame) -> DataFrame:
    a = snap_a.select(F.col("doc_id"), F.md5("text").alias("h_a"))
    b = snap_b.select(F.col("doc_id"), F.md5("text").alias("h_b"))
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_a").isNull(), F.lit("added"))
        .when(F.col("h_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


def snapshot_sql() -> str:
    """DuckDB twin of :func:`q_snapshot_diff` — value-exact."""
    return f"""
WITH a AS (
  SELECT doc_id, md5(text) AS h_a FROM documents
), b_src AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_CH_MOD} = {_CH_VAL} THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % {_RM_MOD} <> {_RM_VAL}
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
         text || ' new' AS text
  FROM documents WHERE doc_id % {_ADD_MOD} = {_ADD_VAL}
), b AS (
  SELECT doc_id, md5(text) AS h_b FROM b_src
), j AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, a.h_a, b.h_b
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT CASE WHEN h_a IS NULL THEN 'added'
            WHEN h_b IS NULL THEN 'removed'
            WHEN h_a <> h_b THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*) AS n_docs
FROM j GROUP BY 1 ORDER BY status
"""
