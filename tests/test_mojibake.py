"""Encoding-damage columns (mojibake.damage_count_cols / damage_score_col /
is_damaged_col, the per-doc signal the source health report flags) —
planted damage per signal (U+FFFD, C1 controls, double-encoded UTF-8),
clean-text and legit-Latin-1 non-flagging, threshold behaviour, and DuckDB
value parity against ``_MOJIBAKE_SQL``.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.mojibake import (
    _MOJIBAKE_SQL,
    damage_count_cols,
    damage_score_col,
    is_damaged_col,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _damage(spark, sf_dir):
    """``_MOJIBAKE_SQL``'s columns from the Spark column builders."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = docs.select("doc_id", *damage_count_cols())
    scored = staged.select(
        "doc_id",
        "n_chars",
        "n_replacement",
        "n_c1",
        "n_double",
        damage_score_col().alias("damage_per_kchar"),
    )
    return scored.withColumn(
        "is_damaged", is_damaged_col(F.col("damage_per_kchar"))
    ).orderBy("doc_id")


def _run(spark, tmp_path, texts):
    import pandas as pd

    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    return {r["doc_id"]: r for r in _damage(spark, str(tmp_path)).collect()}


def test_replacement_char_always_flags(spark, tmp_path):
    long_clean = "perfectly ordinary text " * 50
    got = _run(spark, tmp_path, [long_clean + "�"])
    assert got[0]["n_replacement"] == 1
    assert got[0]["is_damaged"]  # even though the per-kchar rate is tiny


def test_double_encoded_utf8(spark, tmp_path):
    # "café" mis-decoded: é (U+00E9) → Ã© (U+00C3 U+00A9)
    got = _run(spark, tmp_path, ["cafÃ©", "café"])
    assert got[0]["n_double"] == 1 and got[0]["is_damaged"]
    assert got[1]["n_double"] == 0 and not got[1]["is_damaged"]


def test_c1_controls(spark, tmp_path):
    # cp1252 right-quote byte 0x92 decoded as latin-1 → U+0092
    got = _run(spark, tmp_path, ["dont stop"])
    assert got[0]["n_c1"] == 1 and got[0]["is_damaged"]


def test_clean_and_legit_latin1_not_flagged(spark, tmp_path):
    texts = [
        "plain ascii text with nothing wrong",
        "naïve façade — déjà vu über alles",  # real accents, no mojibake
        "",
    ]
    got = _run(spark, tmp_path, texts)
    for d in range(3):
        assert not got[d]["is_damaged"], d
        assert got[d]["damage_per_kchar"] == 0.0


def test_rate_threshold(spark, tmp_path):
    # one C1 char in 10 chars = 100/kchar >> 0.5; in 10000 chars it's 0.1
    got = _run(spark, tmp_path, ["x" * 9 + "", "x" * 9999 + ""])
    assert got[0]["is_damaged"]
    assert not got[1]["is_damaged"]


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = _damage(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(_MOJIBAKE_SQL).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
