"""Degenerate-loop folds (degen._RUN1/_RUN2, the per-doc signal the source
health report flags) — hand-built loop fixtures and DuckDB value parity of
the folds vs the naive islands oracle (``degen_sql``).
"""

import os
import random

import duckdb
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.degen import (
    _RUN1,
    _RUN2,
    CYCLE2_LIMIT,
    RUN_LIMIT,
    degen_sql,
)
from tablestructurerec_spark.operators.textstats import tokens_col

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _folds(spark, d):
    """``degen_sql``'s columns, computed by the Spark folds."""
    staged = spark.read.parquet(d + "/documents.parquet").select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    return [
        tuple(r)
        for r in staged.select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tok"),
            F.expr(_RUN1).alias("max_run"),
            F.expr(_RUN2).alias("max_cycle2"),
        )
        .withColumn(
            "is_degenerate",
            (F.col("max_run") >= RUN_LIMIT) | (F.col("max_cycle2") >= CYCLE2_LIMIT),
        )
        .orderBy("doc_id")
        .collect()
    ]


def _oracle(d):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    return [tuple(r) for r in con.execute(degen_sql()).fetchall()]


def test_loop_fixtures(spark, tmp_path):
    rows = [
        {"doc_id": 0, "text": "normal text with no repeats at all", "source": "s"},
        {"doc_id": 1, "text": "the the the the the end", "source": "s"},  # run 5
        {"doc_id": 2, "text": "start yes no yes no yes no yes no yes no", "source": "s"},
        {"doc_id": 3, "text": "one", "source": "s"},
        {"doc_id": 4, "text": "a a b b a a", "source": "s"},  # short runs only
    ]
    got = {r[0]: r for r in _folds(spark, _write(tmp_path, rows))}
    # (doc_id, n_tok, max_run, max_cycle2, is_degenerate)
    assert got[0][2] == 1 and not got[0][4]
    assert got[1][2] == 5 and got[1][4]
    # doc 2: yes/no alternation of 10 tokens → 8 positions satisfy t[i]=t[i-2]
    assert got[2][3] == 8 and got[2][4]
    assert got[3][1] == 1 and got[3][2] == 1
    assert got[4][2] == 2 and not got[4][4]


def test_duckdb_parity_sf(spark):
    got = _folds(spark, SF_DIR)
    assert got == _oracle(SF_DIR)
    assert len(got) > 0


def test_duckdb_parity_planted_loops(spark, tmp_path):
    rng = random.Random(17)
    vocab = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for i in range(60):
        words = [vocab[rng.randrange(4)] for _ in range(40)]
        if i % 3 == 0:  # plant an immediate loop
            p = rng.randrange(0, 30)
            words[p:p + 7] = ["loop"] * 7
        if i % 5 == 0:  # plant a period-2 cycle
            p = rng.randrange(0, 20)
            words[p:p + 12] = ["ping", "pong"] * 6
        rows.append({"doc_id": i, "text": " ".join(words), "source": "s"})
    d = _write(tmp_path, rows)
    got = _folds(spark, d)
    assert got == _oracle(d)
    assert any(r[4] for r in got) and any(not r[4] for r in got)
