"""CCNet perplexity buckets (operators/ccnet.py).

Pins: hash-exact DuckDB parity (the operator is a component of the
``t_selection_pipeline`` driver row, not registered on its own, so this test
IS its oracle gate), the
semantic contract (target-vocabulary text scores head, OOV junk scores
tail, within the SAME language group), tertile balance, and zero-token
routing.
"""

import os

import duckdb
import pandas as pd
import pytest

from tablestructurerec_spark.operators.ccnet import _CCNET_SQL, q_ccnet_buckets

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _parity(spark, sf_dir):
    sdf = q_ccnet_buckets(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = con.execute(_CCNET_SQL).df()
    assert len(sdf) == len(odf)
    assert list(sdf.columns) == list(odf.columns)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
    return sdf


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = _parity(spark, SF_DIR)
    # tertiles actually split every language ~3 ways (no degenerate
    # all-one-bucket outcome on real testdata)
    by_lang = sdf.groupby("lang")["bucket"].nunique()
    assert (by_lang == 3).all()


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def test_target_vocab_scores_head_junk_scores_tail(spark, tmp_path):
    # the en target slice speaks "alpha beta gamma"; three xx probes range
    # from pure target vocabulary to pure OOV junk — CCNet must bucket
    # them head / middle / tail inside the xx group
    rows = []
    for i in range(30):
        rows.append((i, "alpha beta gamma alpha beta gamma", "en", "s", 0))
    rows.append((100, "alpha beta gamma alpha", "xx", "s", 0))
    rows.append((101, "alpha beta zorp qux", "xx", "s", 0))
    rows.append((102, "zorp qux flib wibble", "xx", "s", 0))
    sf = _write_docs(tmp_path, rows)
    pdf = q_ccnet_buckets(spark, sf).toPandas().set_index("doc_id")
    assert pdf.loc[100, "bucket"] == "head"
    assert pdf.loc[101, "bucket"] == "middle"
    assert pdf.loc[102, "bucket"] == "tail"
    assert pdf.loc[100, "ppl"] < pdf.loc[101, "ppl"] < pdf.loc[102, "ppl"]
    # and the planted fixture stays hash-exact vs the oracle too
    _parity(spark, sf)


def test_zero_token_docs_route_to_tail(spark, tmp_path):
    rows = [
        (0, "alpha beta gamma", "en", "s", 0),
        (1, "alpha beta", "en", "s", 0),
        (2, "gamma alpha", "en", "s", 0),
        (3, "...!!!", "en", "s", 0),  # tokenizer yields nothing
    ]
    sf = _write_docs(tmp_path, rows)
    pdf = q_ccnet_buckets(spark, sf).toPandas().set_index("doc_id")
    assert pdf.loc[3, "n_tokens"] == 0
    assert pdf.loc[3, "bucket"] == "tail"
    assert pdf.loc[3, "ppl"] == -1.0
    _parity(spark, sf)


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_plan_shape(spark):
    plan = (
        q_ccnet_buckets(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # threshold assignment is a broadcast join, and nothing is a cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
