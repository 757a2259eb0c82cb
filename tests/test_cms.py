"""Count-min sketch heavy hitters (cms.q_heavy_hitters_cms) — one-sided
estimate guarantee vs exact counts, planted-heavy-hitter recovery, sketch
size bound, merge/partitioning invariance, broadcast plan pin, and DuckDB
value parity of its SQL (a component of the ``t_sketch_audit`` driver row,
not registered on its own).
"""

import os
import random
from collections import Counter

import duckdb
import pytest

from tablestructurerec_spark.operators.cms import (
    D_ROWS,
    W_BUCKETS,
    cms_estimate,
    cms_sketch,
    q_heavy_hitters_cms,
    cms_sql,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, texts):
    import pandas as pd

    pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts, "source": "s"}
    ).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _zipf_corpus(n_docs=60, seed=3):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(800)]
    texts = []
    for _ in range(n_docs):
        # Zipfian-ish: low ids much more frequent
        words = [vocab[min(int(rng.paretovariate(1.1)) - 1, 799)] for _ in range(300)]
        texts.append(" ".join(words))
    return texts


def test_estimate_never_underestimates(spark, tmp_path):
    texts = _zipf_corpus()
    d = _write(tmp_path, texts)
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, d, "documents")
    sketch = cms_sketch(docs)
    true = Counter(w for t in texts for w in t.split())
    cand = spark.createDataFrame([(w,) for w in true], ["tok"])
    got = {r["tok"]: r["est_count"] for r in cms_estimate(cand, sketch).collect()}
    n_total = sum(true.values())
    for w, c in true.items():
        assert got[w] >= c, (w, got[w], c)  # CMS one-sided guarantee
        # loose error bound: overshoot bounded by the grid's collision mass
        assert got[w] <= c + 3 * n_total / W_BUCKETS + 1, (w, got[w], c)


def test_planted_heavy_hitter_recovered(spark, tmp_path):
    texts = _zipf_corpus(n_docs=40, seed=5)
    texts = [t + " plantedheavytoken" * 250 for t in texts]  # in EVERY doc
    d = _write(tmp_path, texts)
    top = q_heavy_hitters_cms(spark, d).collect()
    assert top[0]["tok"] == "plantedheavytoken"
    assert top[0]["est_count"] >= 40 * 250


def test_sketch_is_fixed_size(spark, tmp_path):
    d = _write(tmp_path, _zipf_corpus())
    from tablestructurerec_spark.sources.read import read_table

    sketch = cms_sketch(read_table(spark, d, "documents"))
    assert sketch.count() <= D_ROWS * W_BUCKETS


def test_partitioning_invariance(spark, tmp_path):
    d = _write(tmp_path, _zipf_corpus(n_docs=30, seed=9))
    from tablestructurerec_spark.sources.read import read_table

    base = sorted(
        cms_sketch(read_table(spark, d, "documents")).collect(),
        key=lambda r: (r["row"], r["bucket"]),
    )
    for n in (1, 13):
        got = sorted(
            cms_sketch(read_table(spark, d, "documents").repartition(n)).collect(),
            key=lambda r: (r["row"], r["bucket"]),
        )
        assert got == base, n


def test_sketch_join_is_broadcast(spark, tmp_path):
    d = _write(tmp_path, ["alpha beta gamma"])
    df = q_heavy_hitters_cms(spark, d)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = q_heavy_hitters_cms(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(cms_sql()).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
