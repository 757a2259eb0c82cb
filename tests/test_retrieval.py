"""Unit tests for operators/retrieval.py beyond the oracle parity harness.

The parity tests pin corpus behavior; these pin the building blocks on
adversarial random inputs — the salted top-k's exactness claim and the
BM25 score kernel's agreement with a straightforward local recompute.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.retrieval import (
    _B,
    _BM25_QUERIES,
    _K1,
    _SCALE_BM25,
    _bm25_per_doc,
    q_unigram_logprob,
    salted_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("seed,n_groups,n_rows,k", [(1, 3, 500, 10), (2, 1, 64, 5), (3, 7, 2000, 3)])
def test_salted_topk_exact_vs_naive(spark, seed, n_groups, n_rows, k):
    """Two-stage salted top-k == single-stage top-k for any total order,
    including heavy ties (scores drawn from a tiny range)."""
    rng = random.Random(seed)
    rows = [
        (rng.randrange(n_groups), i, rng.randrange(5))  # few score values → ties
        for i in range(n_rows)
    ]
    df = spark.createDataFrame(rows, "g int, id long, s int")
    order = [F.col("s").desc(), F.col("id").asc()]
    got = {
        (r.g, r.rank): r.id
        for r in salted_topk(df, "g", order, k, salt_col="id").collect()
    }
    # naive: python ground truth
    by_g: dict = {}
    for g, i, s in rows:
        by_g.setdefault(g, []).append((-s, i))
    want = {}
    for g, items in by_g.items():
        for rank, (_, i) in enumerate(sorted(items)[:k], start=1):
            want[(g, rank)] = i
    assert got == want


def test_bm25_scores_match_local_recompute(spark):
    """The distributed plan's (doc, query) scores equal a from-scratch
    single-process BM25 over the same tokenizer — not just the oracle SQL
    (which shares the formula's *shape* with the plan)."""
    import duckdb

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    import re

    tok = lambda t: [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split(" ") if w]
    toks = {d: tok(t) for d, t in docs}
    n_docs = len(toks)
    total_dl = sum(len(v) for v in toks.values())
    tf = {d: {} for d in toks}
    for d, ws in toks.items():
        for w in ws:
            tf[d][w] = tf[d].get(w, 0) + 1
    scores = {}
    for qid, terms in _BM25_QUERIES:
        dfreq = {t: sum(1 for d in toks if t in tf[d]) for t in terms}
        for d, ws in toks.items():
            s = 0
            for t in terms:
                f = tf[d].get(t, 0)
                if not f or not dfreq[t]:
                    continue
                idf = math.log((n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
                dl_norm = len(ws) * n_docs / total_dl
                contrib = idf * (f * (_K1 + 1.0)) / (f + _K1 * (1.0 - _B + _B * dl_norm))
                # F.round / DuckDB ROUND are half-up; python round() is
                # half-to-even — mirror the plan's rounding exactly
                s += math.floor(contrib * _SCALE_BM25 + 0.5)
            if s:
                scores[(qid, d)] = round(s / _SCALE_BM25, 6)
    got = {
        (r.query_id, r.doc_id): round(r.s / _SCALE_BM25, 6)
        for r in _bm25_per_doc(spark, SF_DIR).collect()
    }
    assert got == scores


def test_unigram_logprob_bounds(spark):
    """avg_logprob is negative (probabilities < 1), rare_frac in [0, 1],
    and n_tokens matches the tokenizer."""
    out = q_unigram_logprob(spark, SF_DIR).collect()
    assert len(out) == 500
    for r in out:
        assert r.avg_logprob < 0
        assert 0.0 <= r.rare_frac <= 1.0
        assert r.n_tokens > 0
