"""BPE merge-table training (operators/bpe_train.py).

Pins: hash-exact DuckDB parity via the relearn-literal oracle (the operator
is a deregistered component that ``examples/demo_corpus_pipeline.py`` calls,
so this test IS its oracle gate), hand-computed merges on a planted corpus, the
structural invariant the regexp-chain equivalence proof needs (components
are chars or earlier outputs), and chain ≡ classic-encode equivalence under
LEARNED tables on random corpora.
"""

import os
import random
import string

import duckdb
import pandas as pd
import pytest

from tablestructurerec_spark.operators.bpe import (
    bpe_encode_classic,
    bpe_encode_py,
)
from tablestructurerec_spark.operators.bpe_train import (
    bpe_learned_oracle,
    learn_merges,
    q_bpe_learned_token_count,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _parity(spark, sf_dir, **kw):
    sdf = q_bpe_learned_token_count(spark, sf_dir, **kw).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = con.execute(bpe_learned_oracle(sf_dir, **kw)).df()
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        assert sdf[col].tolist() == odf[col].tolist(), col
    return sdf


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_duckdb_parity(spark):
    sdf = _parity(spark, SF_DIR)
    # the learned table actually compresses (fewer BPE tokens than chars)
    assert sdf["n_bpe_tokens"].sum() > 0
    assert sdf["table_md5"].nunique() == 1


def test_hand_computed_merges():
    # corpus = the single word "aaab" seen 5 times:
    #   round 1: (a,a)=10 beats (a,b)=5            -> merge ("a","a")
    #   round 2: [aa,a,b] ties (aa,a)=5 (a,b)=5;
    #            lexicographic tie-break           -> merge ("a","b")
    #   round 3: [aa,ab]                           -> merge ("aa","ab")
    #   round 4: single symbol left, no pairs      -> stop early
    merges = learn_merges([("aaab", 5)], n_merges=10)
    assert merges == [("a", "a"), ("a", "b"), ("aa", "ab")]


def test_singleton_pairs_do_not_merge():
    # every pair occurs once -> merging cannot compress -> learn nothing
    assert learn_merges([("xyz", 1)], n_merges=5) == []


def test_learned_table_structural_invariant():
    rng = random.Random(7)
    words = [
        (
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8))),
            rng.randint(1, 9),
        )
        for _ in range(200)
    ]
    merges = learn_merges(words, n_merges=30)
    assert merges, "random corpus must yield merges"
    produced = set()
    for a, b in merges:
        for comp in (a, b):
            assert len(comp) == 1 or comp in produced, (a, b)
        produced.add(a + b)
    # outputs distinct (needed by the rank-ordered chain equivalence)
    assert len(produced) == len(merges)


def test_chain_equals_classic_under_learned_tables():
    rng = random.Random(11)
    for trial in range(20):
        words = [
            (
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 6))),
                rng.randint(1, 5),
            )
            for _ in range(50)
        ]
        merges = learn_merges(words, n_merges=15)
        for _ in range(10):
            text = " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 9)))
                for _ in range(rng.randint(1, 6))
            )
            assert bpe_encode_py(text, merges) == bpe_encode_classic(
                text, merges
            ), (trial, text, merges)


def test_planted_corpus_spark_parity(spark, tmp_path):
    rng = random.Random(3)
    rows = []
    for i in range(40):
        text = " ".join(
            "".join(rng.choice(string.ascii_lowercase[:6]) for _ in range(rng.randint(2, 8)))
            for _ in range(rng.randint(3, 10))
        )
        rows.append((i, text, "en", "s", len(text)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf.to_parquet(tmp_path / "documents.parquet")
    _parity(spark, str(tmp_path), n_merges=12, max_words=1000)
