"""Snapshot diff (snapshot.q_snapshot_diff) — planted add/remove/change
ground truth, bucketed co-located-join plan pin (zero Exchange), and DuckDB
value parity (a component of the ``t_ops_audit`` driver row, not
registered on its own).
"""

import os

import duckdb

from tablestructurerec_spark.operators.snapshot import (
    q_snapshot_diff,
    snapshot_diff,
    snapshot_sql,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_planted_statuses(spark):
    a = _df(spark, [(0, "same"), (1, "old body"), (2, "gone"), (3, "same too")])
    b = _df(spark, [(0, "same"), (1, "new body"), (3, "same too"), (9, "brand new")])
    got = {r["status"]: r["n_docs"] for r in snapshot_diff(a, b).collect()}
    assert got == {"added": 1, "removed": 1, "changed": 1, "unchanged": 2}


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    # The production layout: both snapshots bucketed on doc_id → the
    # full-outer SortMergeJoin needs no Exchange on either side.
    from pyspark.sql import functions as F

    from tablestructurerec_spark.plans.bucketing import write_bucketed

    a = _df(spark, [(i, f"text {i}") for i in range(200)])
    b = _df(spark, [(i, f"text {i if i % 7 else -i}") for i in range(5, 205)])
    write_bucketed(a.select("doc_id", F.md5("text").alias("h_a")), "snap_a", "doc_id", 8)
    write_bucketed(b.select("doc_id", F.md5("text").alias("h_b")), "snap_b", "doc_id", 8)
    ta, tb = spark.table("snap_a"), spark.table("snap_b")
    j = ta.join(tb, "doc_id", "full_outer").select(
        F.when(F.col("h_a").isNull(), "added")
        .when(F.col("h_b").isNull(), "removed")
        .when(F.col("h_a") != F.col("h_b"), "changed")
        .otherwise("unchanged")
        .alias("status")
    ).groupBy("status").count()
    rows = {r["status"]: r["count"] for r in j.collect()}
    plan = j._jdf.queryExecution().executedPlan().toString()
    runtime = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in runtime and "FullOuter" in runtime
    # the only exchange is the single-partition one for the 4-row summary
    assert "Exchange hashpartitioning(doc_id" not in runtime
    # ground truth: ids 0-4 removed, 200-204 added, multiples of 7 in the
    # overlap changed (i=0 not in overlap; 7,14,...,196 → 28 changed)
    assert rows["removed"] == 5 and rows["added"] == 5 and rows["changed"] == 28


def test_duckdb_parity_sf(spark):
    got = [
        tuple(r)
        for r in q_snapshot_diff(spark, SF_DIR).toPandas().itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(snapshot_sql()).fetchall()]
    assert got == want
    assert {r[0] for r in got} == {"added", "removed", "changed", "unchanged"}
