"""Conversation-schema operators (convschema) — hand-built violation
fixtures for the role audit, suffix-budget ground truth for the packer,
single-exchange plan pin, and DuckDB value parity of both operators' SQL
(neither is registered on its own; the ``t_conv_audit`` driver row runs
both).
"""

import os

import duckdb

from tablestructurerec_spark.operators.convschema import (
    conv_suffix_pack,
    q_conv_suffix_pack,
    q_role_sequence_audit,
    role_audit_sql,
    role_sequence_audit,
    suffix_pack_sql,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _turns_df(spark, convs):
    """convs: dict conv_id -> list of (role, text)."""
    rows = []
    for cid, turns in convs.items():
        for i, (role, text) in enumerate(turns):
            rows.append((cid, i, role, text))
    return spark.createDataFrame(
        rows, "conv_id BIGINT, turn_idx INT, role STRING, text STRING"
    )


def test_role_audit_flags(spark):
    convs = {
        0: [("user", "a"), ("assistant", "b")],  # valid
        1: [("assistant", "a"), ("user", "b"), ("assistant", "c")],  # bad start
        2: [("user", "a"), ("user", "b"), ("assistant", "c")],  # same adjacent
        3: [("user", "a"), ("tool", "x"), ("assistant", "c")],  # tool after user
        4: [("system", "s"), ("user", "a"), ("assistant", "b"), ("tool", "r"),
            ("tool", "r2"), ("assistant", "done")],  # valid incl. tool chain
        5: [("user", "a"), ("assistant", "b"), ("user", "c")],  # dangling user
    }
    got = {r["conv_id"]: r for r in role_sequence_audit(_turns_df(spark, convs)).collect()}
    assert got[0]["is_valid"] and got[4]["is_valid"]
    assert got[1]["bad_start"] == 1 and not got[1]["is_valid"]
    assert got[2]["n_same_role_adjacent"] == 1 and not got[2]["is_valid"]
    assert got[3]["n_bad_tool"] == 1 and not got[3]["is_valid"]
    assert got[5]["dangling_last"] == 1 and not got[5]["is_valid"]
    # tool→tool chains after an assistant call are legitimate on both rules
    assert got[4]["n_bad_tool"] == 0
    assert got[4]["n_same_role_adjacent"] == 0


def test_suffix_pack_ground_truth(spark):
    convs = {
        7: [("user", "one two three"), ("assistant", "four five"),
            ("user", "six seven eight nine"), ("assistant", "ten")],
    }
    out = {r["turn_idx"]: r for r in
           conv_suffix_pack(_turns_df(spark, convs), budget=5).collect()}
    # token counts: [3, 2, 4, 1]; suffix sums from end: t3=1, t2=5, t1=7, t0=10
    assert [out[i]["cum_from_end"] for i in range(4)] == [10, 7, 5, 1]
    assert [out[i]["kept"] for i in range(4)] == [False, False, True, True]


def test_single_exchange_plan(spark):
    convs = {i: [("user", "a b"), ("assistant", "c")] for i in range(30)}
    out = role_sequence_audit(_turns_df(spark, convs))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    runtime = plan.split("== Initial Plan ==")[0]
    # lag window + groupBy share the conv_id partitioning: exactly one hash
    # exchange (plus the presentation sort's range exchange)
    assert runtime.count("Exchange hashpartitioning") == 1


def test_duckdb_parity_role_audit(spark):
    got = [
        tuple(r)
        for r in q_role_sequence_audit(spark, SF_DIR)
        .toPandas()
        .itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(role_audit_sql()).fetchall()]
    assert got == want
    assert len(got) > 0
    # the md5-derived roles must actually exercise both branches
    assert any(r[6] for r in got) and any(not r[6] for r in got)


def test_duckdb_parity_suffix_pack(spark):
    got = [
        tuple(r)
        for r in q_conv_suffix_pack(spark, SF_DIR).toPandas().itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(suffix_pack_sql()).fetchall()]
    assert got == want
    assert any(r[4] for r in got) and any(not r[4] for r in got)


# ---------------------------------------------------------------------------
# packing-efficiency report
# ---------------------------------------------------------------------------

def test_pack_efficiency_truth(spark):
    from tablestructurerec_spark.operators.convschema import pack_efficiency

    # budget 5; conv 0: tokens [3,2,4,1] -> suffix sums [10,7,5,1]: kept
    # turns 2,3 (used 5, full window, dropped 5, truncated).  conv 1:
    # single 2-token turn -> used 2 (decile 4), no truncation.
    convs = {
        0: [("user", "a b c"), ("assistant", "d e"), ("user", "f g h i"), ("assistant", "j")],
        1: [("user", "k l")],
    }
    out = {r["fill_decile"]: r for r in
           pack_efficiency(_turns_df(spark, convs), budget=5).collect()}
    assert set(out) == {10, 4}
    full = out[10]
    assert full["n_convs"] == 1 and full["total_used_tok"] == 5
    assert full["total_waste_tok"] == 0 and full["total_dropped_tok"] == 5
    assert full["n_truncated"] == 1
    part = out[4]
    assert part["n_convs"] == 1 and part["total_used_tok"] == 2
    assert part["total_waste_tok"] == 3 and part["total_dropped_tok"] == 0
    assert part["n_truncated"] == 0


def test_duckdb_parity_pack_efficiency(spark):
    from tablestructurerec_spark.operators.convschema import (
        pack_efficiency_sql,
        q_pack_efficiency,
    )

    got = [
        tuple(r)
        for r in q_pack_efficiency(spark, SF_DIR).toPandas().itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(pack_efficiency_sql()).fetchall()]
    assert got == want
    assert len(got) > 1  # the md5 mix spreads fill across deciles
