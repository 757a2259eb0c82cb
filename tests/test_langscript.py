"""Lang-script consistency audit (langscript.q_lang_script_consistency) —
planted matched/mismatched/unknown-lang fixtures and DuckDB value parity,
incl. the sf fixture where zh-labeled Latin word-soup must surface as
inconsistent (a component of the ``t_char_integrity`` driver row, not
registered on its own).
"""

import os

import duckdb

from tablestructurerec_spark.operators.langscript import (
    lang_script_consistency,
    langscript_sql,
    q_lang_script_consistency,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_planted_mix(spark, tmp_path):
    rows = [
        {"doc_id": 0, "text": "plain english prose here", "lang": "en", "source": "s"},
        {"doc_id": 1, "text": "汉字文本内容测试样例汉字", "lang": "zh", "source": "s"},
        {"doc_id": 2, "text": "mislabeled latin text body", "lang": "zh", "source": "s"},
        {"doc_id": 3, "text": "текст на кириллице тут", "lang": "ru", "source": "s"},
        {"doc_id": 4, "text": "some text", "lang": "xx", "source": "s"},  # unmapped
    ]
    d = _write(tmp_path, rows)
    got = {(r["lang"], r["dominant_script"]): r
           for r in q_lang_script_consistency(spark, d).collect()}
    assert got[("en", "latin")]["is_consistent"]
    assert got[("zh", "han")]["is_consistent"]
    assert not got[("zh", "latin")]["is_consistent"]  # the mislabel row
    assert got[("ru", "cyrillic")]["is_consistent"]
    assert got[("xx", "latin")]["expected_script"] == "unknown"
    assert not got[("xx", "latin")]["is_consistent"]


def test_duckdb_parity_planted(spark, tmp_path):
    rows = [
        {"doc_id": 0, "text": "english text", "lang": "en", "source": "s"},
        {"doc_id": 1, "text": "中文内容在此", "lang": "zh", "source": "s"},
        {"doc_id": 2, "text": "wrong 中文 mostly latin words here", "lang": "zh", "source": "s"},
        {"doc_id": 3, "text": "ελληνικά κείμενα εδώ", "lang": "el", "source": "s"},
    ]
    d = _write(tmp_path, rows)
    got = [
        tuple(r)
        for r in q_lang_script_consistency(spark, d)
        .toPandas()
        .itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    want = [tuple(r) for r in con.execute(langscript_sql()).fetchall()]
    assert got == want


def test_duckdb_parity_sf_finds_the_planted_mislabels(spark):
    got = [
        tuple(r)
        for r in q_lang_script_consistency(spark, SF_DIR)
        .toPandas()
        .itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(langscript_sql()).fetchall()]
    assert got == want
    # the fixture's text is EN word-soup with independent lang labels: the
    # zh rows are Latin-dominant and MUST surface as inconsistent
    zh = [r for r in got if r[0] == "zh"]
    assert zh and all(not r[4] for r in zh if r[1] == "latin")
    assert any(r[1] == "latin" for r in zh)


def test_null_lang_orders_like_duckdb(spark, tmp_path):
    # ADVICE r3: Spark's default orderBy puts NULLs FIRST while DuckDB's
    # ASC puts them LAST — the audit pins NULLS LAST so null-lang corpora
    # keep row-order parity.
    rows = [
        {"doc_id": 0, "text": "plain english prose", "lang": "en", "source": "s"},
        {"doc_id": 1, "text": "unlabeled latin text", "lang": None, "source": "s"},
        {"doc_id": 2, "text": "текст на кириллице тут", "lang": "ru", "source": "s"},
    ]
    d = _write(tmp_path, rows)
    got = [
        tuple(r)
        for r in q_lang_script_consistency(spark, d).toPandas().itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    want = [tuple(r) for r in con.execute(langscript_sql()).fetchall()]
    # pandas renders NULL lang as None/NaN identically via itertuples on
    # object dtype; compare positionally
    assert got == want
    assert got[-1][0] is None or (isinstance(got[-1][0], float))  # null sorts last
