"""Unicode script profile (charprofile.q_char_profile) — per-script planted
texts, mixed-script dominance, fixed-priority tie-break, empty text,
map-only plan, and DuckDB value parity of its SQL (a component of the
``t_char_integrity`` driver row, not registered on its own).
"""

import os

import duckdb
import pytest

from tablestructurerec_spark.operators.charprofile import (
    _CHARPROFILE_SQL,
    q_char_profile,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _run(spark, tmp_path, texts):
    import pandas as pd

    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    return {r["doc_id"]: r for r in q_char_profile(spark, tmp_path.as_posix()).collect()}


def test_planted_scripts(spark, tmp_path):
    got = _run(
        spark,
        tmp_path,
        [
            "plain english text",
            "привет мир как дела",  # cyrillic
            "γειά σου κόσμε",  # greek
            "مرحبا بالعالم",  # arabic
            "你好世界欢迎光临",  # han
            "こんにちは セカイ",  # kana (hiragana + katakana)
            "안녕하세요 세계",  # hangul
        ],
    )
    expect = ["latin", "cyrillic", "greek", "arabic", "han", "kana", "hangul"]
    for i, script in enumerate(expect):
        assert got[i]["dominant_script"] == script, (i, dict(got[i].asDict()))
        assert got[i][f"n_{script}"] > 0
    assert got[0]["non_ascii_frac"] == 0.0
    assert got[4]["non_ascii_frac"] > 0.8


def test_mixed_dominance_and_latin_ext(spark, tmp_path):
    got = _run(
        spark,
        tmp_path,
        [
            "mostly english with 你好 two han chars",
            "naïve façade über",  # Latin-1 accents count as latin
        ],
    )
    assert got[0]["dominant_script"] == "latin"
    assert got[0]["n_han"] == 2
    assert got[1]["dominant_script"] == "latin"
    assert got[1]["n_latin"] == len("naïvefaçadeüber")


def test_tie_break_is_priority_order(spark, tmp_path):
    # one latin vs one cyrillic letter: tie → latin (first in priority)
    got = _run(spark, tmp_path, ["aб"])
    assert got[0]["n_latin"] == 1 and got[0]["n_cyrillic"] == 1
    assert got[0]["dominant_script"] == "latin"


def test_empty_and_symbol_only(spark, tmp_path):
    got = _run(spark, tmp_path, ["", "!!! ??? 123"])
    assert got[0]["dominant_script"] == "none"
    assert got[0]["non_ascii_frac"] == 0.0
    assert got[1]["dominant_script"] == "none"
    assert got[1]["n_digit"] == 3


def test_map_only_plan(spark, tmp_path):
    import pandas as pd

    pd.DataFrame({"doc_id": [0], "text": ["x"]}).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    plan = (
        q_char_profile(spark, tmp_path.as_posix())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    key_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange" in l
        and "RoundRobinPartitioning" not in l
        and "rangepartitioning" not in l
    ]
    assert not key_exchanges, plan


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = q_char_profile(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(_CHARPROFILE_SQL).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
