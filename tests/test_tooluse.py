"""Agent-trace tool-use analytics (operators/tooluse.py) — hand-built
conversation ground truths (chain sessionization, latency arithmetic,
null-safe loop runs) through the fused audit, its single-exchange plan
pin, and DuckDB value parity on the md5-derived agent view.
"""

import datetime
import os

import duckdb

from tablestructurerec_spark.operators.tooluse import (
    agent_trace_audit,
    q_agent_trace_audit,
    trace_audit_sql,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _turns(spark, convs):
    """convs: {conv_id: [(role, tool, ts_sec), ...]} — turn_idx by position."""
    rows = []
    base = datetime.datetime(2025, 1, 1)
    for cid, turns in convs.items():
        for i, (role, tool, sec) in enumerate(turns):
            rows.append((cid, i, role, tool, base + datetime.timedelta(seconds=sec)))
    return spark.createDataFrame(
        rows,
        "conv_id BIGINT, turn_idx INT, role STRING, tool STRING, ts TIMESTAMP_NTZ",
    )


def test_chain_sessionization_truth(spark):
    convs = {
        # two chains: [t,t] then (user gap) [t]; second chain distinct tool
        0: [
            ("user", None, 0),
            ("tool", "search", 5),
            ("tool", "python", 9),
            ("user", None, 14),
            ("tool", "search", 20),
        ],
        # no tool turns at all -> absent from output
        1: [("user", None, 0), ("assistant", None, 3)],
    }
    got = {r["conv_id"]: r for r in agent_trace_audit(_turns(spark, convs)).collect()}
    assert set(got) == {0}
    r = got[0]
    assert r["n_tool_turns"] == 3
    assert r["n_chains"] == 2
    assert r["max_chain_len"] == 2
    assert r["max_chain_tools"] == 2


def test_latency_truth(spark):
    convs = {
        0: [
            ("assistant", None, 0),
            ("tool", "search", 7),  # 7s
            ("tool", "search", 9),  # tool->tool: NOT a call latency row
            ("assistant", None, 12),
            ("tool", "python", 15),  # 3s
        ],
        1: [
            ("user", None, 0),
            ("tool", "search", 4),  # user->tool: excluded
            ("assistant", None, 8),
            ("tool", "search", 10),  # 2s
        ],
    }
    got = {r["conv_id"]: r for r in agent_trace_audit(_turns(spark, convs)).collect()}
    assert got[0]["n_timed_calls"] == 2
    assert got[0]["total_latency_s"] == 10
    assert got[0]["max_latency_s"] == 7
    assert got[1]["n_timed_calls"] == 1
    assert got[1]["total_latency_s"] == 2
    assert got[1]["max_latency_s"] == 2


def test_loop_runs_truth_and_null_safety(spark):
    convs = {
        # run of 3 identical -> looping; later run of 2 doesn't flag
        0: [
            ("tool", "search", 0),
            ("tool", "search", 2),
            ("tool", "search", 4),
            ("assistant", None, 6),
            ("tool", "search", 8),
            ("tool", "search", 10),
        ],
        # NULL tool names still form a run (null-safe comparison)
        1: [
            ("tool", None, 0),
            ("tool", None, 2),
            ("tool", None, 4),
        ],
        # alternating tools never run
        2: [
            ("tool", "search", 0),
            ("tool", "python", 2),
            ("tool", "search", 4),
        ],
    }
    got = {r["conv_id"]: r for r in agent_trace_audit(_turns(spark, convs)).collect()}
    assert got[0]["max_run_len"] == 3 and got[0]["n_loop_runs"] == 1
    assert got[0]["is_looping"]
    assert got[1]["max_run_len"] == 3 and got[1]["is_looping"]
    assert got[2]["max_run_len"] == 1 and not got[2]["is_looping"]


def _oracle(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    return [tuple(r) for r in con.execute(sql).fetchall()]


def test_fused_audit_single_exchange_plan(spark):
    convs = {
        i: [
            ("assistant", None, 0),
            ("tool", "search", 5),
            ("tool", "search", 9),
            ("tool", "python", 12),
        ]
        for i in range(30)
    }
    out = agent_trace_audit(_turns(spark, convs))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    runtime = plan.split("== Initial Plan ==")[0]
    # the three-level rollup reuses the window's conv_id partitioning:
    # one hash exchange for window + all three aggregations
    assert runtime.count("Exchange hashpartitioning") == 1


def test_duckdb_parity_fused_audit(spark):
    got = [
        tuple(r)
        for r in q_agent_trace_audit(spark, SF_DIR).toPandas().itertuples(index=False)
    ]
    want = _oracle(trace_audit_sql())
    assert got == want
    assert len(got) > 0
