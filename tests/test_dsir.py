"""DSIR importance-resampling weights (sampling.q_dsir_weights).

Pins: hash-exact DuckDB parity (the operator is a component of the
``t_selection_pipeline`` driver row, not registered on its own, so this test
IS its oracle gate), the
semantic contract (target-vocabulary docs weigh above off-target docs,
regardless of their own lang label), empty-doc inclusion, and the plan
shape (bounded ratio table broadcast, corpus side never broadcast).
"""

import os
import re

import duckdb
import pandas as pd
import pytest

from tablestructurerec_spark.operators.sampling import _DSIR_SQL, q_dsir_weights

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = q_dsir_weights(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(_DSIR_SQL).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col


def test_target_vocab_scores_above_off_target(spark, tmp_path):
    # target slice (lang=en) speaks "alpha beta gamma"; the raw corpus also
    # contains a "zeta eta theta" dialect.  Two UNLABELED (lang=xx) probes:
    # one in target vocabulary, one off-target — DSIR must rank the
    # target-vocabulary probe strictly higher and mark only it keep_target.
    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma alpha beta", "en", "s", 0))
    for i in range(20, 40):
        rows.append((i, "zeta eta theta zeta eta", "fr", "s", 0))
    rows.append((100, "alpha beta gamma alpha beta", "xx", "s", 0))
    rows.append((101, "zeta eta theta zeta eta", "xx", "s", 0))
    # same unigram vocab as target but scrambled word ORDER: its novel
    # bigrams hash to low-evidence buckets, so smoothing pulls it between
    # the two pure probes — ranking must still hold
    rows.append((102, "alpha beta gamma beta alpha gamma", "xx", "s", 0))
    out = (
        q_dsir_weights(spark, _write_docs(tmp_path, rows))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[100, "logw"] > out.loc[102, "logw"] > out.loc[101, "logw"]
    assert bool(out.loc[100, "keep_target"])
    assert not bool(out.loc[101, "keep_target"])


def test_empty_doc_included_with_zero_weight(spark, tmp_path):
    rows = [
        (0, "alpha beta gamma", "en", "s", 0),
        (1, "", "fr", "s", 0),
        (2, "...", "fr", "s", 0),  # no alnum tokens either
    ]
    out = (
        q_dsir_weights(spark, _write_docs(tmp_path, rows))
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) == 3
    for d in (1, 2):
        assert int(out.loc[d, "n_feats"]) == 0
        assert float(out.loc[d, "logw"]) == 0.0
        assert not bool(out.loc[d, "keep_target"])


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_ratio_table_is_the_broadcast_side(spark):
    plan = (
        q_dsir_weights(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the per-doc scoring join must be a broadcast join ON THE BUCKET KEY
    # (a SortMergeJoin here would shuffle the corpus-sized feature frame)
    assert re.search(r"BroadcastHashJoin \[bucket", plan), plan
    # and nothing corpus-sized may be SHIPPED by a broadcast exchange: a
    # broadcast subtree may contain the explode in its lineage, but what is
    # shipped is the subtree's top — so any subtree containing the feature
    # explode (Generate) must reduce it through the bounded bucket
    # HashAggregate BEFORE the broadcast (aggregate line above the explode)
    lines = plan.splitlines()

    def _indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-*("))

    checked = 0
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = _indent(ln)
        sub = []
        j = i + 1
        while j < len(lines) and _indent(lines[j]) > d:
            sub.append(lines[j])
            j += 1
        gen = next((k for k, s in enumerate(sub) if "Generate" in s), None)
        if gen is None:
            continue
        checked += 1
        # raw exploded feature rows must never ship: every broadcast whose
        # lineage includes the explode must reduce through an aggregate
        # first.  (The ratio side aggregates on bucket — bounded by
        # construction; the final doc_id join's build side aggregates per
        # doc, a runtime-size call the planner may make at test scale.)
        assert any(
            "HashAggregate" in s for s in sub[:gen]
        ), f"raw explode output broadcast without aggregation:\n{ln}"
    assert checked >= 1  # at least one explode-bearing subtree inspected
    # and the bucket-join build side specifically is the bounded bucket
    # aggregate: its exchange subtree must aggregate on bucket above the
    # explode
    m = re.search(r"BroadcastHashJoin \[bucket", plan)
    tail = plan[m.start():].splitlines()
    d = _indent(tail[0])
    sub = []
    j = 1
    while j < len(tail) and _indent(tail[j]) > d:
        sub.append(tail[j])
        j += 1
    bx = next(k for k, s in enumerate(sub) if "BroadcastExchange" in s)
    gen = next(k for k, s in enumerate(sub) if k > bx and "Generate" in s)
    assert any(
        "HashAggregate" in s and "bucket" in s for s in sub[bx:gen]
    ), "bucket-join build side is not the bounded bucket aggregate"
