"""ANN quality: on clustered embeddings the IVF index recovers the true
neighbors.  The driver testdata's embeddings are isotropic random, so
there recall necessarily ≈ probed fraction (no neighborhood structure to
exploit); this test builds deterministic *clustered* vectors with the same
schema and asserts the algorithms deliver when structure exists."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

N_CLUSTERS = 10
PER_CLUSTER = 120
DIM = 64
NOISE = 0.15


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n = N_CLUSTERS * PER_CLUSTER
    labels = np.arange(n) % N_CLUSTERS  # interleaved: seed ids span clusters
    vecs = centers[labels] + NOISE * rng.normal(size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    d = tmp_path_factory.mktemp("clustered")
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


def _top_ids(df):
    return [r.vec_id for r in df.collect()]


def test_kmeans_ivf_recall_and_determinism(spark, clustered_dir):
    from tablestructurerec_spark.operators.similarity import (
        q_ann_bruteforce,
        q_ann_ivf_kmeans_topk,
    )

    brute = set(_top_ids(q_ann_bruteforce(spark, clustered_dir)))
    run1 = q_ann_ivf_kmeans_topk(spark, clustered_dir).collect()
    recall = len(brute & {r.vec_id for r in run1}) / 10
    # a trained quantizer on genuinely clustered data recovers the true
    # neighbours
    assert recall >= 0.8, recall
    # fixed seed + deterministic sample => repeat runs agree exactly
    run2 = q_ann_ivf_kmeans_topk(spark, clustered_dir).collect()
    assert [tuple(r) for r in run1] == [tuple(r) for r in run2]


def test_true_neighbors_share_query_cluster(spark, clustered_dir):
    from tablestructurerec_spark.operators.similarity import q_ann_bruteforce

    rows = q_ann_bruteforce(spark, clustered_dir).collect()
    # query vec_id 0 is cluster 0; on clustered data its true top-10 is too
    assert sum(r.label == 0 for r in rows) >= 9
