"""Product-quantization ANN (operators/pq.py).

Pins: hash-exact DuckDB parity via the refit-literal codebook oracle (the
operator is a deregistered component that ``examples/demo_corpus_pipeline.py``
calls, so this test IS its oracle gate), recall ≥ 0.8 against brute force on
clustered data (the compressed codes must still find the true neighbors),
and determinism across runs.
"""

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tablestructurerec_spark.operators.pq import pq_oracle, q_ann_pq_topk

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _parity(spark, sf_dir):
    sdf = q_ann_pq_topk(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    odf = con.execute(pq_oracle(sf_dir)).df()
    assert len(sdf) == len(odf)
    assert list(sdf.columns) == list(odf.columns)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
    return sdf


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/embeddings.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = _parity(spark, SF_DIR)
    assert len(sdf) == 10
    assert sdf["rk"].tolist() == list(range(1, 11))


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    # same clustered generator as test_similarity_quality (seed 7)
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n = 10 * 120
    labels = np.arange(n) % 10
    vecs = centers[labels] + 0.15 * rng.normal(size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    d = tmp_path_factory.mktemp("pq_clustered")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(
                    [v.astype(np.float32) for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(labels.astype(np.int32), pa.int32()),
            }
        ),
        d / "embeddings.parquet",
    )
    return str(d)


def test_pq_recall_and_determinism_on_clustered_data(spark, clustered_dir):
    from tablestructurerec_spark.operators.similarity import q_ann_bruteforce

    brute = {r.vec_id for r in q_ann_bruteforce(spark, clustered_dir).collect()}
    run1 = q_ann_pq_topk(spark, clustered_dir).collect()
    recall = len(brute & {r.vec_id for r in run1}) / 10
    assert recall >= 0.8, recall
    run2 = q_ann_pq_topk(spark, clustered_dir).collect()
    assert [tuple(r) for r in run1] == [tuple(r) for r in run2]
    # the ADC approximation orders true neighbors ahead of the field: the
    # exact-cosine winners came from the 50 ADC candidates, so their approx
    # distances must sit well inside the corpus range
    assert all(r.approx_d >= 0 for r in run1)


def test_clustered_parity_too(spark, clustered_dir):
    _parity(spark, clustered_dir)
