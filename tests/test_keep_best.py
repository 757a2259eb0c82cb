"""Quality-policy dedup representative selection (dedup.q_dedup_keep_best).

Pins: hash-exact DuckDB parity through the recursive-CTE components oracle
composed with the quality oracle (the operator is a deregistered component
that ``examples/demo_corpus_pipeline.py`` calls, so this test IS its oracle
gate), and the
policy contract recomputed from scratch in pandas: exactly one keeper per
component, and the keeper is the quality-argmax (doc_id tiebreak), which on
the testdata genuinely DIVERGES from components' keep-first policy.
"""

import os

import duckdb
import pytest

from tablestructurerec_spark.operators.dedup import (
    _keep_best_oracle,
    q_dedup_keep_best,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)


@pytest.fixture(scope="module")
def frames(spark):
    sdf = q_dedup_keep_best(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(_keep_best_oracle()).df()
    return sdf, odf


def test_duckdb_parity(frames):
    sdf, odf = frames
    assert len(sdf) == len(odf)
    assert list(sdf.columns) == list(odf.columns)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col


def test_exactly_one_keeper_per_component(frames):
    sdf, _ = frames
    keeps = sdf.groupby("component")["keep"].sum()
    assert (keeps == 1).all()


def test_keeper_is_quality_argmax(frames):
    # from-scratch recompute, independent of both engines' window logic
    sdf, _ = frames
    for _, grp in sdf.groupby("component"):
        expect = grp.sort_values(
            ["quality", "doc_id"], ascending=[False, True]
        ).iloc[0]["doc_id"]
        assert grp.loc[grp["keep"] == 1, "doc_id"].iloc[0] == expect


def test_policy_diverges_from_keep_first(frames):
    # the point of the operator: on real data the best-quality member of
    # some multi-doc group is NOT the min doc_id, so this must differ from
    # q_dedup_components' is_representative at least once
    sdf, _ = frames
    multi = sdf.groupby("component").filter(lambda g: len(g) > 1)
    assert len(multi) > 0, "testdata must contain multi-doc dup groups"
    kept = multi.loc[multi["keep"] == 1]
    assert (kept["doc_id"] != kept["component"]).any()
