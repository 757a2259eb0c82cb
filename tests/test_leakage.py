"""Embedding-space split-leakage audit (leakage.q_split_leakage_emb) —
DuckDB value parity (also at a low threshold where rows exist), a planted
paraphrase pair caught across the split, and the bucket-join plan pin.
"""

import os

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_emb_leakage_duckdb_parity(spark):
    import duckdb

    from tablestructurerec_spark.operators.leakage import (
        emb_leakage_sql,
        q_split_leakage_emb,
    )

    got = [
        tuple(r)
        for r in q_split_leakage_emb(spark, SF_DIR)
        .toPandas()
        .itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    want = [tuple(r) for r in con.execute(emb_leakage_sql()).fetchall()]
    assert got == want  # empty==empty on the isotropic corpus is CORRECT
    # non-trivial parity: at a low threshold rows exist and must still agree
    got_lo = [
        tuple(r)
        for r in q_split_leakage_emb(spark, SF_DIR, thresh=0.25)
        .toPandas()
        .itertuples(index=False)
    ]
    want_lo = [tuple(r) for r in con.execute(emb_leakage_sql(thresh=0.25)).fetchall()]
    assert got_lo == want_lo
    assert len(got_lo) > 0


def test_emb_leakage_planted_paraphrase_caught(spark, tmp_path):
    """A train/eval pair of near-identical vectors (the embedding of a
    paraphrase shares no shingles, so exact AND minhash audits are blind)
    must surface; orthogonal vectors must not."""
    import numpy as np

    from tablestructurerec_spark.operators.leakage import (
        _EMB_COS_THRESH,
        q_split_leakage_emb,
    )
    from tablestructurerec_spark.operators.sampling import split_label_col
    from pyspark.sql import functions as F

    rng = np.random.RandomState(3)
    base = rng.normal(0, 1, 64)
    twin = base + rng.normal(0, 0.02, 64)  # cos ~ 0.999
    ortho = rng.normal(0, 1, 64)
    ortho -= ortho @ base / (base @ base) * base  # exactly orthogonal
    # find ids on opposite sides of the split so the pair straddles it
    ids = spark.createDataFrame(
        [(i,) for i in range(64)], "vec_id BIGINT"
    ).select("vec_id", split_label_col(F.col("vec_id")).alias("s")).collect()
    train_id = next(r["vec_id"] for r in ids if r["s"] == "train")
    eval_id = next(r["vec_id"] for r in ids if r["s"] != "train")
    eval_id2 = next(
        r["vec_id"] for r in ids if r["s"] != "train" and r["vec_id"] != eval_id
    )
    emb = spark.createDataFrame(
        [
            (train_id, [float(x) for x in base], 0),
            (eval_id, [float(x) for x in twin], 0),
            (eval_id2, [float(x) for x in ortho], 0),
        ],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    d = str(tmp_path / "emb")
    emb.write.parquet(d + "/embeddings.parquet")
    got = q_split_leakage_emb(spark, d).collect()
    pairs = {(r["train_vec_id"], r["eval_vec_id"]) for r in got}
    assert (train_id, eval_id) in pairs
    assert all(r["cos"] >= _EMB_COS_THRESH for r in got)
    assert (train_id, eval_id2) not in pairs


def test_emb_leakage_bucket_join_not_all_pairs(spark):
    from tablestructurerec_spark.operators.leakage import q_split_leakage_emb

    out = q_split_leakage_emb(spark, SF_DIR)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    runtime = plan.split("== Initial Plan ==")[0]
    # candidates come from a bucket-key equi-join, never a cartesian product
    assert "CartesianProduct" not in runtime
    assert "BroadcastNestedLoopJoin" not in runtime
