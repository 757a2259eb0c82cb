"""Hashed-NB filter distillation (operators/distill.py).

Pins: hash-exact DuckDB parity through the nested CCNet-teacher oracle
(the operator is a component of the ``t_selection_pipeline`` driver row,
not registered on its own, so this test IS its oracle gate), the student actually learning the
teacher (agreement on head/tail docs well above chance), and planted
semantics (target-vocabulary probe scores positive, junk negative).
"""

import os

import duckdb
import pandas as pd
import pytest

from tablestructurerec_spark.operators.ccnet import q_ccnet_buckets
from tablestructurerec_spark.operators.distill import _DISTILL_SQL, q_quality_distill

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _parity(spark, sf_dir):
    sdf = q_quality_distill(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = con.execute(_DISTILL_SQL).df()
    assert len(sdf) == len(odf)
    assert list(sdf.columns) == list(odf.columns)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
    return sdf


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity_and_student_learns_teacher(spark):
    sdf = _parity(spark, SF_DIR).set_index("doc_id")
    teacher = q_ccnet_buckets(spark, SF_DIR).toPandas().set_index("doc_id")
    labeled = teacher[teacher["bucket"].isin(["head", "tail"])]
    agree = (
        sdf.loc[labeled.index, "pred_head"] == (labeled["bucket"] == "head")
    ).mean()
    # in-sample agreement of a 1024-bucket NB with its own teacher must be
    # far above the ~0.5 chance floor
    assert agree > 0.75, agree


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def test_planted_vocab_separation(spark, tmp_path):
    # teacher slice: en docs speaking "alpha beta gamma"; the xx group has
    # three perplexity tiers (pure target vocab / mixed / pure junk) so the
    # CCNet tertiles genuinely produce head, middle AND tail labels — the
    # distilled student must then separate the pure tiers by vocabulary
    rows = []
    for i in range(30):
        rows.append((i, "alpha beta gamma alpha beta gamma", "en", "s", 0))
    for i in range(30, 40):
        rows.append((i, "alpha beta gamma beta", "xx", "s", 0))
    for i in range(40, 50):
        rows.append((i, "alpha beta zorp qux", "xx", "s", 0))
    for i in range(50, 60):
        rows.append((i, "zorp qux flib wibble zorp", "xx", "s", 0))
    sf = _write_docs(tmp_path, rows)
    pdf = _parity(spark, sf).set_index("doc_id")
    assert (pdf.loc[30:39, "pred_head"] == 1).all()
    assert (pdf.loc[50:59, "pred_head"] == 0).all()
    assert pdf.loc[30:39, "nb_score"].min() > pdf.loc[50:59, "nb_score"].max()
