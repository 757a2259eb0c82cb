"""KMV distinct-count sketch (kmv.q_distinct_kmv) — exact-below-k regime,
estimator accuracy vs true distinct counts, partitioning invariance (the
merge property), pre-shuffle WindowGroupLimit pruning, and DuckDB value
parity of its SQL (a component of the ``t_sketch_audit`` driver row, not
registered on its own).
"""

import os
import random

import duckdb
import pytest

from tablestructurerec_spark.operators.kmv import (
    DEFAULT_K,
    kmv_sql,
    q_distinct_kmv,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_below_k_is_exact(spark, tmp_path):
    # 40 distinct tokens < k=64: the sketch IS the distinct set.
    text = " ".join(f"tok{i}" for i in range(40)) + " tok0 tok1"  # dups
    d = _write(tmp_path, [{"doc_id": 0, "text": text, "source": "a"}])
    row = q_distinct_kmv(spark, d, k=64).collect()[0]
    assert row["n_kept"] == 40
    assert row["est_distinct"] == 40


def test_estimator_accuracy(spark, tmp_path):
    # Three sources with known vocabulary sizes well above k; the KMV
    # estimator's relative SE is ~1/sqrt(k-2) (~6% at k=256) — assert 4σ.
    rng = random.Random(7)
    rows = []
    truth = {"s1": 3000, "s2": 8000, "s3": 1500}
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
    got = {r["source"]: r for r in q_distinct_kmv(spark, d).collect()}
    for src, n_vocab in truth.items():
        est = got[src]["est_distinct"]
        assert abs(est - n_vocab) / n_vocab < 0.25, (src, est, n_vocab)
        assert got[src]["n_kept"] == DEFAULT_K


def test_partitioning_invariance(spark, tmp_path):
    # The sketch is a deterministic function of the VALUE SET: any
    # partitioning (i.e. any merge order of partial sketches) must give
    # byte-identical output.
    rng = random.Random(11)
    rows = [
        {
            "doc_id": i,
            "text": " ".join(f"w{rng.randrange(2000)}" for _ in range(200)),
            "source": "s",
        }
        for i in range(40)
    ]
    d = _write(tmp_path, rows)
    from tablestructurerec_spark.operators.kmv import distinct_kmv
    from tablestructurerec_spark.sources.read import read_table

    base = q_distinct_kmv(spark, d).collect()
    # re-run with the document frame forced through different partitionings:
    # each partitioning is a different merge order of partial sketches
    for n in (1, 13):
        docs = read_table(spark, d, "documents").repartition(n)
        assert distinct_kmv(docs).collect() == base, n


def test_window_group_limit_pruned(spark, tmp_path):
    d = _write(tmp_path, [{"doc_id": 0, "text": "a b c", "source": "s"}])
    df = q_distinct_kmv(spark, d)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan  # pre-shuffle top-k pruning


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = q_distinct_kmv(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(kmv_sql()).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
