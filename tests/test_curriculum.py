"""Curriculum ordering (curriculum.q_curriculum_order) — dense contiguous
global index, easy→hard monotonicity, contiguous shards, partitioning
invariance, bucket-partitioned (not global) window plan pin, and DuckDB
value parity vs the naive global-window SQL (a component of the
``t_selection_pipeline`` driver row, not registered on its own).
"""

import os
import random

import duckdb
import pytest

from tablestructurerec_spark.operators.curriculum import (
    _CURRICULUM_SQL,
    SHARD_SIZE,
    q_curriculum_order,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, n=400, seed=13):
    import pandas as pd

    rng = random.Random(seed)
    lens = [rng.randrange(1, 3000) for _ in range(n)]
    pd.DataFrame(
        {
            "doc_id": range(n),
            "text": ["x" * l for l in lens],
            "n_chars": lens,
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_dense_and_monotone(spark, tmp_path):
    d = _write(tmp_path)
    rows = q_curriculum_order(spark, d).collect()
    n = len(rows)
    assert sorted(r["order_idx"] for r in rows) == list(range(n))  # dense
    by_order = sorted(rows, key=lambda r: r["order_idx"])
    keys = [(r["n_chars"], r["doc_id"]) for r in by_order]
    assert keys == sorted(keys)  # easy→hard with stable tie-break
    # shards are contiguous curriculum slices
    for r in rows:
        assert r["shard"] == r["order_idx"] // SHARD_SIZE


def test_matches_naive_global_window(spark, tmp_path):
    d = _write(tmp_path, n=700, seed=21)
    sdf = q_curriculum_order(spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    odf = con.execute(_CURRICULUM_SQL).df()
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col


def test_partitioning_invariance(spark, tmp_path):
    # thresholds come from percentile_approx over a sample; the OUTPUT must
    # be invariant to both the bucketing and the input partitioning
    d = _write(tmp_path, n=300, seed=31)
    base = q_curriculum_order(spark, d).collect()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            assert q_curriculum_order(spark, d).collect() == base, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_window_is_bucket_partitioned(spark, tmp_path):
    d = _write(tmp_path, n=200)
    plan = (
        q_curriculum_order(spark, d)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the full-data rank runs per-bucket, never as a global single-task sort
    assert "windowspecdefinition(bucket" in plan, plan


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity_sf(spark):
    sdf = q_curriculum_order(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(_CURRICULUM_SQL).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
