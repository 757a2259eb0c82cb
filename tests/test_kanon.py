"""k-anonymity audit (kanon.q_k_anonymity) — planted small/large
equivalence classes, negative-balance bucketing (floor, not truncate),
single-shuffle plan, and DuckDB value parity of its SQL (a component of
the ``t_ops_audit`` driver row, not registered on its own).
"""

import os

import duckdb
import pytest

from tablestructurerec_spark.operators.kanon import (
    _KANON_SQL,
    K_THRESHOLD,
    q_k_anonymity,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_parquet(str(tmp_path / "customer.parquet"))
    return str(tmp_path)


def test_planted_classes(spark, tmp_path):
    rows = []
    # large class: 8 members → safe
    for i in range(8):
        rows.append(
            {"c_custkey": i, "c_name": f"c{i}", "c_nationkey": 1,
             "c_acctbal": 1500.0 + i, "c_mktsegment": "AUTO"}
        )
    # small class: 2 members → at risk
    for i in range(2):
        rows.append(
            {"c_custkey": 100 + i, "c_name": f"r{i}", "c_nationkey": 2,
             "c_acctbal": 250.0, "c_mktsegment": "HOUSE"}
        )
    d = _write(tmp_path, rows)
    got = {
        (r["c_nationkey"], r["c_mktsegment"], r["bal_bucket"]): r
        for r in q_k_anonymity(spark, d).collect()
    }
    assert got[(1, "AUTO", 1)]["class_size"] == 8
    assert not got[(1, "AUTO", 1)]["at_risk"]
    assert got[(2, "HOUSE", 0)]["class_size"] == 2
    assert got[(2, "HOUSE", 0)]["at_risk"]
    assert K_THRESHOLD == 5


def test_negative_balance_floors(spark, tmp_path):
    # -1.0 must land in bucket -1 (floor), not bucket 0 (truncation) —
    # otherwise tiny-negative and tiny-positive balances merge classes
    d = _write(
        tmp_path,
        [
            {"c_custkey": 0, "c_name": "a", "c_nationkey": 0,
             "c_acctbal": -1.0, "c_mktsegment": "X"},
            {"c_custkey": 1, "c_name": "b", "c_nationkey": 0,
             "c_acctbal": 1.0, "c_mktsegment": "X"},
        ],
    )
    buckets = sorted(r["bal_bucket"] for r in q_k_anonymity(spark, d).collect())
    assert buckets == [-1, 0]


def test_single_shuffle(spark, tmp_path):
    d = _write(
        tmp_path,
        [{"c_custkey": 0, "c_name": "a", "c_nationkey": 0,
          "c_acctbal": 1.0, "c_mktsegment": "X"}],
    )
    plan = (
        q_k_anonymity(spark, d)._jdf.queryExecution().executedPlan().toString()
    )
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert len(hash_exchanges) == 1, plan  # the one groupBy shuffle


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/customer.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = q_k_anonymity(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{SF_DIR}/customer.parquet')"
    )
    odf = con.execute(_KANON_SQL).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
