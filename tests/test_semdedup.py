"""SemDeDup (operators/semdedup.py).

Pins: hash-exact DuckDB parity via the refit-literal oracle (the same
``semdedup_oracle`` the ``t_semdedup`` driver row is checked against), the
semantic contract on a planted fixture (exactly
one member of each near-identical twin pair is pruned, everything else
survives), and the plan shape (no corpus-wide cartesian pair join — the
only allowed nested-loop is the broadcast of the O(k·dim) center table).
"""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from tablestructurerec_spark.operators.semdedup import q_semdedup, semdedup_oracle

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/embeddings.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = q_semdedup(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    odf = con.execute(semdedup_oracle(SF_DIR)).df()
    assert len(sdf) == len(odf)
    assert list(sdf.columns) == list(odf.columns)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/embeddings.parquet"), reason="testdata absent"
)
def test_default_threshold_is_meaningful_on_testdata(spark):
    # the default tau sits inside the testdata cosine range: some dups,
    # not everything — a threshold that fires never (or always) would make
    # the parity test vacuous
    pdf = q_semdedup(spark, SF_DIR).toPandas()
    assert 0 < pdf["is_dup"].sum() < len(pdf)


def _write_embeddings(tmp_path, vecs):
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype="int64"),
            "embedding": [np.asarray(v, dtype="float32") for v in vecs],
            "label": np.zeros(len(vecs), dtype="int32"),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    return str(tmp_path)


def test_planted_twins_prune_exactly_one_per_pair(spark, tmp_path):
    # 12 mutually-orthogonal one-hot directions (pairwise cos = 0) plus a
    # near-identical twin for three of them (cos ≈ 1).  At tau=0.9 SemDeDup
    # must prune exactly one member of each twin pair — whichever ranks
    # later inside its cluster — and nothing else, regardless of how the
    # k-means quantizer carves the space.
    dim = 12
    vecs = []
    for i in range(dim):
        v = np.zeros(dim)
        v[i] = 1.0
        vecs.append(v)
    twin_of = {}
    for i in (0, 5, 9):
        v = np.zeros(dim)
        v[i] = 1.0
        v[(i + 1) % dim] = 0.01  # tiny perturbation: cos ≈ 0.99995
        twin_of[len(vecs)] = i
        vecs.append(v)
    sf = _write_embeddings(tmp_path, vecs)

    pdf = q_semdedup(spark, sf, n_clusters=4, tau=0.9).toPandas().set_index("vec_id")
    dups = set(pdf.index[pdf["is_dup"] == 1])
    assert len(dups) == 3
    for twin, orig in twin_of.items():
        # same cluster (near-identical vectors share a nearest center) and
        # exactly one of the pair pruned, with near-1 evidence
        assert pdf.loc[twin, "cluster_id"] == pdf.loc[orig, "cluster_id"]
        assert len(dups & {twin, orig}) == 1
        pruned = (dups & {twin, orig}).pop()
        assert pdf.loc[pruned, "max_prior_cos"] > 0.99
    # the pruned one is always the LATER-ranked member of its cluster
    for twin, orig in twin_of.items():
        pruned = (dups & {twin, orig}).pop()
        kept = orig if pruned == twin else twin
        assert pdf.loc[pruned, "rk"] > pdf.loc[kept, "rk"]


def test_planted_parity_matches_oracle(spark, tmp_path):
    # parity must hold on adversarial (degenerate-tie) data too, not just
    # the isotropic testdata: duplicate vectors create exact rank ties that
    # both engines must break identically (vec_id)
    vecs = [np.ones(4) * (1 + i % 3) for i in range(10)]
    sf = _write_embeddings(tmp_path, vecs)
    sdf = q_semdedup(spark, sf, n_clusters=2, tau=0.9).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    odf = con.execute(semdedup_oracle(sf, n_clusters=2, tau=0.9)).df()
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/embeddings.parquet"), reason="testdata absent"
)
def test_plan_has_no_corpus_cartesian(spark):
    plan = q_semdedup(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # VERDICT r3 #1: assignment must be MAP-ONLY — the old
    # crossJoin(broadcast(cents)) compiled to a BroadcastNestedLoopJoin that
    # generated N·k rows; the literal-array argmin fold generates none
    assert "BroadcastNestedLoopJoin" not in plan
    # the intra-cluster pair join is a real equi-join on cluster_id (the
    # rank predicate rides as a post-join condition), never a loop over
    # corpus pairs
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
