"""BPE token counting: merge-table structure, encoder equivalence, and the
native regexp chain vs the python reference.

The load-bearing fact is the equivalence classic-min-rank == rank-ordered-
exhaustive, which holds because every merge's components predate it and
outputs are distinct — both asserted structurally, then exercised on random
strings.
"""

import os
import random
import string

import pytest

from tablestructurerec_spark.operators.bpe import (
    MERGES,
    bpe_encode_classic,
    bpe_encode_py,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_merge_table_structure():
    outputs = [a + b for a, b in MERGES]
    assert len(set(outputs)) == len(outputs), "duplicate merge outputs"
    known = set(string.ascii_lowercase) | set(string.digits)
    for (a, b), out in zip(MERGES, outputs):
        assert a in known and b in known, f"component of {(a, b)} not yet formable"
        known.add(out)


def test_classic_equals_rank_ordered_on_random_strings():
    rng = random.Random(42)
    alphabet = "theinsandorucmw019 "
    for _ in range(500):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        assert bpe_encode_classic(s) == bpe_encode_py(s), repr(s)


def test_known_encodings():
    assert bpe_encode_py("the") == ["the"]
    assert bpe_encode_py("that") == ["that"]
    assert bpe_encode_py("And the CAT!") == ["and", "the", "c", "at"]
    # greedy left-to-right within one rank: "anan" under (a,n) -> [an, an]
    assert bpe_encode_py("anan") == ["an", "an"]
    assert bpe_encode_py("") == []
    assert bpe_encode_py("!!!") == []


def test_round_trip_concatenation():
    # merging never alters characters: concatenated tokens == normalized word
    for w in ["ingestion", "thethethe", "0019", "spark"]:
        assert "".join(bpe_encode_py(w)) == w


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_native_chain_matches_python_reference(spark):
    from tablestructurerec_spark.operators.bpe import q_token_count_bpe

    pdf = q_token_count_bpe(spark, SF_DIR).toPandas()
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    docs = docs.sort_values("doc_id").reset_index(drop=True)
    assert len(pdf) == len(docs)
    for got_n, text in zip(pdf["n_bpe_tokens"], docs["text"]):
        assert got_n == len(bpe_encode_py(text))


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_pandas_udf_twin_equals_native(spark):
    from tablestructurerec_spark.operators.bpe import (
        bpe_encode_col,
        bpe_token_count_col,
        bpe_tokens_pandas,
    )
    from tablestructurerec_spark.sources.read import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    native = docs.select(
        "doc_id", bpe_encode_col(F.col("text")).alias("enc")
    ).select("doc_id", bpe_token_count_col(F.col("enc")).alias("n_native"))
    udf = bpe_tokens_pandas(docs).select("doc_id", "n_bpe_tokens")
    joined = native.join(udf, "doc_id").toPandas()
    assert (joined["n_native"] == joined["n_bpe_tokens"]).all()
