"""Zipf corpus diagnostics (operators/zipf.py).

Pins: hash-exact DuckDB parity (the operator is a deregistered component
that ``examples/demo_corpus_pipeline.py`` calls, so this test IS its oracle
gate), the
integer-scaled slope's semantic contract on planted corpora (uniform → 0,
1/rank frequencies → ≈ −1), and coverage monotonicity.
"""

import os

import duckdb
import pandas as pd
import pytest

from tablestructurerec_spark.operators.zipf import _ZIPF_SQL, q_zipf_stats

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _parity(spark, sf_dir):
    sdf = q_zipf_stats(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = con.execute(_ZIPF_SQL).df()
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
    assert (sdf["cum_coverage"].diff().dropna() >= 0).all()
    assert sdf["cum_coverage"].iloc[-1] <= 1.0
    assert sdf["zipf_slope"].nunique() == 1


def _write_docs(tmp_path, texts):
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "s",
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def test_uniform_corpus_has_zero_slope(spark, tmp_path):
    sf = _write_docs(tmp_path, ["alpha beta gamma delta"] * 10)
    pdf = q_zipf_stats(spark, sf).toPandas()
    assert (pdf["zipf_slope"] == 0.0).all()
    assert pdf["cnt"].nunique() == 1


def test_inverse_rank_corpus_fits_minus_one(spark, tmp_path):
    # term w_i appears round(120/i) times, i = 1..12 — a textbook Zipf
    # corpus; the head fit must sit near −1
    words = []
    for i in range(1, 13):
        words.extend([f"w{i:02d}"] * round(120 / i))
    sf = _write_docs(tmp_path, [" ".join(words)])
    pdf = q_zipf_stats(spark, sf).toPandas()
    slope = pdf["zipf_slope"].iloc[0]
    assert -1.1 < slope < -0.9
    # and the planted fixture stays hash-exact vs the oracle
    _parity(spark, sf)
