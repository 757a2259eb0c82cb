"""HyperLogLog sketch (hll.q_distinct_hll) — estimator accuracy vs known
vocabulary sizes, linear-counting small-range regime, merge invariance under
repartitioning, partial-aggregate plan shape, and DuckDB value parity of the
SQL (a component of the ``t_sketch_audit`` driver row, not registered on
its own).
"""

import os
import random

import duckdb
import pytest

from tablestructurerec_spark.operators.hll import (
    LC_TABLE,
    M_REGS,
    distinct_hll,
    hll_sql,
    q_distinct_hll,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_lc_table_is_sane():
    # V = m (all registers empty) -> ln(1) -> 0; V = 1 -> m * ln(m).
    assert LC_TABLE[-1] == 0
    assert LC_TABLE[0] == round(M_REGS * 5.545177444479562)
    assert all(a >= b for a, b in zip(LC_TABLE, LC_TABLE[1:]))


def test_small_range_linear_counting(spark, tmp_path):
    # 40 distinct tokens: far below 2.5m, so the LC branch fires and the
    # estimate tracks the truth to within a handful (LC is near-exact here).
    text = " ".join(f"tok{i}" for i in range(40)) + " tok0 tok1"
    d = _write(tmp_path, [{"doc_id": 0, "text": text, "source": "a"}])
    row = q_distinct_hll(spark, d).collect()[0]
    assert row["v_zero"] > 0
    assert abs(row["est_distinct"] - 40) <= 3, row


def test_estimator_accuracy(spark, tmp_path):
    # Known vocabulary sizes well above the LC regime; RSE ~ 1.04/sqrt(256)
    # = 6.5%, assert 4 sigma.
    rng = random.Random(11)
    rows = []
    truth = {"s1": 3000, "s2": 9000, "s3": 1500}
    for src, n_vocab in truth.items():
        vocab = [f"{src}w{i}" for i in range(n_vocab)]
        for doc in range(30):
            words = [vocab[rng.randrange(n_vocab)] for _ in range(400)] + vocab[
                doc::30
            ]  # every vocab word appears at least once
            rows.append(
                {"doc_id": len(rows), "text": " ".join(words), "source": src}
            )
    d = _write(tmp_path, rows)
    got = {r["source"]: r for r in q_distinct_hll(spark, d).collect()}
    for src, n_vocab in truth.items():
        est = got[src]["est_distinct"]
        assert abs(est - n_vocab) / n_vocab < 0.26, (src, est, n_vocab)


def test_merge_invariance(spark, tmp_path):
    # The sketch is a max per register: any partitioning of the input must
    # produce the identical folded sketch and estimate.
    rng = random.Random(3)
    rows = [
        {
            "doc_id": i,
            "text": " ".join(f"w{rng.randrange(2000)}" for _ in range(200)),
            "source": "s",
        }
        for i in range(40)
    ]
    d = _write(tmp_path, rows)
    docs = spark.read.parquet(d + "/documents.parquet")
    one = distinct_hll(docs.coalesce(1)).collect()
    many = distinct_hll(docs.repartition(13, "doc_id")).collect()
    assert [r.asDict() for r in one] == [r.asDict() for r in many]


def test_partial_aggregate_plan(spark, tmp_path):
    # The register merge must run as a partial hash aggregate BEFORE the
    # exchange (map-side combine) — that cap is the whole scale story.
    d = _write(tmp_path, [{"doc_id": 0, "text": "a b c", "source": "a"}])
    plan = distinct_hll(
        spark.read.parquet(d + "/documents.parquet")
    )._jdf.queryExecution().executedPlan().toString()
    # plan prints top-down: the partial_max aggregate must sit BELOW (after,
    # in text) the (source, reg) exchange that consumes it — anchored on the
    # register exchange specifically, not the orderBy's range exchange
    # (review finding: the first-Exchange anchor was vacuous)
    reg_exchange = plan.index("Exchange hashpartitioning(source")
    assert "partial_max" in plan[reg_exchange:]


def test_duckdb_parity(spark):
    got = [
        tuple(r)
        for r in q_distinct_hll(spark, SF_DIR)
        .toPandas()
        .itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(hll_sql()).fetchall()]
    assert got == want
    assert len(got) > 0
