"""JL random projection (operators/jl.py) — hand-computed projection truth,
JL distance-preservation property on the real corpus, and DuckDB value
parity of the projection expression.
"""

import os

import duckdb
import numpy as np

from pyspark.sql import functions as F

from tablestructurerec_spark.operators.jl import (
    D_IN,
    D_OUT,
    _proj_duck,
    _proj_spark,
    sign_matrix,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _project(emb):
    return emb.select("vec_id", F.expr(_proj_spark()).alias("proj")).orderBy("vec_id")


def test_sign_matrix_deterministic_and_balanced():
    m = sign_matrix()
    assert m == sign_matrix()  # pure function of the index pair
    assert len(m) == D_OUT and all(len(r) == D_IN for r in m)
    flat = [s for row in m for s in row]
    assert set(flat) == {-1, 1}
    # md5 bytes are balanced enough that neither sign dominates 2:1
    assert 0.33 < flat.count(1) / len(flat) < 0.67


def test_projection_truth_tiny(spark):
    emb = spark.createDataFrame(
        [(0, [0.5] * D_IN), (1, [-1.0] * D_IN)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    got = {r["vec_id"]: r["proj"] for r in _project(emb).collect()}
    m = np.array(sign_matrix())
    # constant vectors: proj_j = scaled_value * sum(signs_j)
    row_sums = m.sum(axis=1)
    assert got[0] == [int(500_000 * s) for s in row_sums]
    assert got[1] == [int(-1_000_000 * s) for s in row_sums]


def test_jl_preserves_distances_on_corpus(spark):
    """The JL property itself, measured: pairwise squared distances in the
    projected space, rescaled by D_IN/D_OUT, stay within a constant
    distortion band of the original distances for real corpus vectors."""
    from tablestructurerec_spark.sources.read import read_table

    emb = read_table(spark, SF_DIR, "embeddings").limit(60).toPandas()
    x = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    xi = np.floor(x * 1_000_000 + 0.5)
    m = np.array(sign_matrix(), dtype=np.float64)
    p = xi @ m.T
    ratios = []
    for i in range(0, 50, 5):
        for j in range(i + 1, 50, 7):
            do = float(((xi[i] - xi[j]) ** 2).sum())
            dp = float(((p[i] - p[j]) ** 2).sum()) / (D_IN / 1.0)
            # E[dp] = do * D_OUT under the +-1 JL ensemble (row norm = D_IN)
            ratios.append(dp / (do * D_OUT / D_IN))
    med = sorted(ratios)[len(ratios) // 2]
    assert 0.5 < med < 2.0, med
    assert all(0.1 < r < 10.0 for r in ratios), (min(ratios), max(ratios))


def _oracle(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    return [tuple(r) for r in con.execute(sql).fetchall()]


def test_duckdb_parity_project(spark):
    from tablestructurerec_spark.sources.read import read_table

    got = [
        (r["vec_id"], tuple(r["proj"]))
        for r in _project(read_table(spark, SF_DIR, "embeddings")).collect()
    ]
    sql = f"SELECT vec_id, {_proj_duck()} AS proj FROM embeddings ORDER BY vec_id"
    want = [(v, tuple(p)) for v, p in _oracle(sql)]
    assert got == want
    assert len(got) > 0 and len(got[0][1]) == D_OUT
