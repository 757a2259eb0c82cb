"""Lexical retrieval + corpus-LM scoring operators over ``documents``.

The retrieval side of a training-data pipeline — the pieces used to mine a
web-scale corpus for targeted subsets (seed expansion, quality proxies):

* **BM25 scoring** (the lexical side of ``t_hybrid_rrf``) — full
  distributed BM25 (Okapi, Lucene positive-idf variant) against a fixed
  query set.  Tokens are pruned to the query vocabulary BEFORE any
  explode and tf is counted inside the token array, so the only
  corpus-wide shuffle carries the hit list (one row per doc × matching
  distinct term, doc length riding along) — the posting lists a retrieval
  engine would read, not the raw token stream.  Ranking (in the hybrid
  fusion) is a TWO-STAGE salted top-k so no single "query" partition ever
  has to sort all its candidates: stage 1 keeps the per-(query, salt)
  top-k (32-way), stage 2 reduces 32·k survivors per query.  A common term
  at 100 TB matches billions of docs — a naive ``row_number() OVER
  (PARTITION BY query_id)`` funnels all of them through one task; the
  salted form is the same trick as ``a10_salted_agg`` applied to top-k,
  and is exact because each salt group's global-top-k members are
  necessarily in its local top-k.
* **Unigram-LM log-prob** (``t_unigram_logprob``) — CCNet-style quality
  signal: score every document by the average log10 probability of its
  tokens under the corpus's own unigram LM, plus the fraction of
  rare-token mass (frequency < 1/200).  Two partial-agg shuffles (term
  counts, per-doc sum) and one equi-join on ``term``; the join is NOT
  broadcast-forced — a 100 TB vocabulary has billions of types, so the plan
  leaves the strategy to AQE, and hot stopword terms are exactly the skew
  AQE's skew-join splitting handles.

Float-sum determinism: both operators accumulate per-token contributions.
A double sum's value depends on reduction order, which Spark does not pin —
so both scale each per-token contribution to an integer (×1e6 / ×1e4,
``ROUND`` then ``CAST BIGINT``) and sum integers, which is exact and
order-independent; the final division/round is then bit-stable against the
DuckDB oracle regardless of partitioning.

Pure Catalyst throughout (no Python stages); DuckDB oracles over the same
parquet.  No reference counterpart (graft training-data operators, like
``dedup``/``sampling``); the inverted-index shape follows the standard
Spark pattern (explode → partial agg → equi-join).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .textstats import _TOKENS_SQL, tokens_col

__all__ = ["QUERIES", "ORACLE_SQL"]

_K1 = 1.2
_B = 0.75
_TOPK = 10
_SALTS = 32  # stage-1 fan-out for the salted top-k
# fixed query set: mixes the corpus's one genuinely rare term (``dup``)
# with common terms so idf actually orders results
_BM25_QUERIES = [
    (0, ("dup", "stream", "window")),
    (1, ("spark", "join", "merge")),
    (2, ("customer", "table", "scan")),
    (3, ("vector", "hash", "slow")),
]
_SCALE_BM25 = 1_000_000  # 1e-6 score resolution
_SCALE_LM = 10_000  # 1e-4 per-token log10 resolution
_RARE_DEN = 200  # token is "rare" when count * 200 < corpus total


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def salted_topk(df: DataFrame, group: str, order, k: int, salt_col: str, n_salts: int = _SALTS) -> DataFrame:
    """Exact per-group top-k without funneling any group through one task.

    CONTRACT: ``order`` MUST be a total order within each group — include a
    unique key (e.g. ``doc_id``) as the final order expression.  Under ties
    ``row_number`` breaks them by partition-arrival order, so a non-total
    order yields silently nondeterministic results across partitionings.

    Stage 1 ranks within (group, hash-salt) — ``n_salts``-way parallel —
    and keeps k; stage 2 ranks the ≤ n_salts·k survivors per group.  Exact
    for any total order: a group's global top-k rows are each in their own
    salt slice's top-k, so stage 1 never drops one.  Adds a ``rank`` column
    (1-based) and drops rows beyond k.
    """
    for reserved in ("_r1", "rank"):
        if reserved in df.columns:
            raise ValueError(
                f"salted_topk writes column {reserved!r}; rename it on the input"
            )
    salt = F.pmod(F.hash(salt_col), F.lit(n_salts))
    stage1 = Window.partitionBy(group, salt).orderBy(*order)
    stage2 = Window.partitionBy(group).orderBy(*order)
    return (
        df.withColumn("_r1", F.row_number().over(stage1))
        .where(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(stage2))
        .where(F.col("rank") <= k)
        .drop("_r1")
    )


# ---------------------------------------------------------------------------
# BM25 scoring
# ---------------------------------------------------------------------------
def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 candidate scores (query_id, doc_id, s) BEFORE any top-k
    truncation — exposed so callers (hybrid fusion) can apply their own
    candidate filters ahead of ranking; ``s`` is the integer-scaled score."""
    docs = _t(spark, sf_dir, "documents")
    vocab = sorted({t for _, terms in _BM25_QUERIES for t in terms})
    # The posting lists a retrieval engine would read are exactly the query
    # vocabulary's — so prune tokens to that vocabulary BEFORE any explode,
    # and count tf WITHIN the token array (map-side).  The only corpus-wide
    # shuffle then carries one row per (doc, matching distinct term) — the
    # hit list, not the full 10^12-turn token stream — with dl riding along
    # so no separate doc-length join exists at all.
    toks = tokens_col(F.col("text"))
    qtoks = F.filter(toks, lambda x: x.isin(*vocab))
    hits = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        qtoks.alias("qtoks"),
        F.explode(F.array_distinct(qtoks)).alias("term"),
    ).select(
        "doc_id",
        "dl",
        "term",
        F.size(F.filter(F.col("qtoks"), lambda x: x == F.col("term"))).alias("tf"),
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id int, term string",
    )
    # pin the hit list behind ONE term-partitioned exchange: both consumers
    # (df counting, scoring) hang off the same Exchange node, which Spark's
    # ReuseExchange dedupes — so the corpus scan + tokenize that builds the
    # hit list runs exactly once, instead of once per branch
    hits = hits.repartition("term")
    # (doc_id, term) is unique in hits, so df is a plain count — no
    # count_distinct expand — and is taken BEFORE query_id attachment so a
    # term shared by two queries cannot double-count
    always = F.col("doc_id").isNotNull() & (F.col("dl") >= 0) & (F.col("tf") >= 0)
    dfreq = hits.groupBy("term").agg(
        # the guard is a tautology (doc_id is a key; dl/tf are counts ≥ 0):
        # df == count(*).  It exists to REFERENCE doc_id/dl/tf inside the
        # kept aggregate so column pruning cannot specialize this branch's
        # subtree — both branches then share one byte-identical
        # term-partitioned Exchange (ReusedExchange, asserted by
        # tests/test_plan_shapes.py) and the corpus tokenize runs once
        F.count(F.when(always, 1)).alias("df")
    )
    # corpus stats (n_docs, total Σdl): one more map-side-only partial agg
    # scan — these are corpus constants a production pipeline computes once
    # and passes in, not per query set
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size(toks)).alias("total_dl")
    )
    scored_terms = (
        hits.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")  # |query vocab| rows — broadcast
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm_dl = F.col("dl") * F.col("n_docs") / F.col("total_dl")  # dl / avgdl
    contrib = (
        idf
        * (F.col("tf") * (_K1 + 1.0))
        / (F.col("tf") + _K1 * (1.0 - _B + _B * norm_dl))
    )
    return (
        scored_terms.select(
            "query_id",
            "doc_id",
            F.round(contrib * _SCALE_BM25).cast("long").alias("c"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("s"))
    )


def _bm25_scored_ctes() -> str:
    """CTE chain ending in scored(query_id, doc_id, s) — the SQL twin of
    :func:`_bm25_per_doc`, used by the hybrid oracle."""
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    return f"""toklists AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks) AS dl FROM toklists
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toklists)
  GROUP BY doc_id, term
), q(query_id, term) AS (VALUES {qvals}),
cand AS (
  SELECT q.query_id, tf.doc_id, tf.term, tf.tf FROM tf JOIN q USING (term)
), dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM cand GROUP BY term
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl
), contrib AS (
  SELECT c.query_id, c.doc_id,
         CAST(ROUND(
           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (c.tf * ({_K1} + 1.0))
           / (c.tf + {_K1} * (1.0 - {_B} + {_B} * l.dl * s.n_docs / s.total_dl))
           * {_SCALE_BM25}) AS BIGINT) AS c
  FROM cand c JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
  CROSS JOIN stats s
), scored AS (
  SELECT query_id, doc_id, SUM(c) AS s FROM contrib GROUP BY query_id, doc_id
)"""


# ---------------------------------------------------------------------------
# corpus unigram-LM log-probability (CCNet-style quality proxy)
# ---------------------------------------------------------------------------
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    # per-token contribution, integer-scaled so the doc-level sum is exact
    lp = F.round(F.log10(F.col("cnt") / F.col("total")) * _SCALE_LM).cast("long")
    rare = (F.col("cnt") * _RARE_DEN < F.col("total")).cast("long")
    per_doc = (
        tf.join(vocab, "term")  # vocabulary join: equi-join, skew left to AQE
        .crossJoin(F.broadcast(total))
        .select("doc_id", "tf", (F.col("tf") * lp).alias("c"), (F.col("tf") * rare).alias("rare_toks"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.sum("c").alias("csum"),
            F.sum("rare_toks").alias("rsum"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tok").cast("int").alias("n_tokens"),
        F.round(F.col("csum") / (float(_SCALE_LM) * F.col("n_tok")), 6).alias(
            "avg_logprob"
        ),
        F.round(F.col("rsum") / F.col("n_tok").cast("double"), 6).alias("rare_frac"),
    ).orderBy("doc_id")


_UNIGRAM_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents)
  GROUP BY doc_id, term
), vocab AS (
  SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term
), stats AS (
  SELECT SUM(cnt) AS total FROM vocab
), per_doc AS (
  SELECT tf.doc_id,
         SUM(tf.tf) AS n_tok,
         SUM(tf.tf * CAST(ROUND(log10(v.cnt * 1.0 / s.total) * {_SCALE_LM}) AS BIGINT)) AS csum,
         SUM(tf.tf * CASE WHEN v.cnt * {_RARE_DEN} < s.total THEN 1 ELSE 0 END) AS rsum
  FROM tf JOIN vocab v USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tokens,
       ROUND(csum / ({_SCALE_LM}.0 * n_tok), 6) AS avg_logprob,
       ROUND(rsum * 1.0 / n_tok, 6) AS rare_frac
FROM per_doc
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# hybrid retrieval — reciprocal-rank fusion of BM25 and embedding cosine
# ---------------------------------------------------------------------------
_RRF_K = 60  # standard RRF damping constant


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the lexical (BM25) and vector (embedding
    cosine) top-10 lists per query with reciprocal-rank fusion
    ``rrf = Σ 1/(60 + rank)`` — the standard fusion rule, and exactly
    oracle-able because it consumes integer RANKS, not incomparable raw
    scores.

    Query q's vector is ``embeddings[vec_id == q]`` (deterministic, no
    external data).  The query's own doc is excluded from BOTH candidate
    sets BEFORE top-k, so each side fuses its true top-10 of non-self docs
    (excluding after truncation would shrink a list to 9 whenever the self
    doc held a slot, and the true 10th could never enter fusion).
    The vector side here is the brute-force baseline — broadcast query
    vectors, map-side cosine, :func:`salted_topk` — with the IVF/LSH
    variants in ``operators/similarity`` as the scale path.  Cosine is
    rounded to 6 decimals BEFORE ranking (the proven ``ann_bruteforce``
    pattern) so rank decisions cannot differ between engines on a last-ulp
    score difference; the fusion sum is two fixed-order terms of integer
    reciprocals — bit-stable.  The final per-query rank is a plain window:
    after fusion each query holds ≤ 20 rows, so there is nothing to salt.
    """
    # similarity's dot/norm kernels are the oracle-proven sequential folds
    from .similarity import _dot, _norm

    qids = [qid for qid, _ in _BM25_QUERIES]
    # exclude the query's own doc from BOTH candidate sets BEFORE top-k
    # (same rule both sides) so each list is a true top-10 of non-self docs
    lex_cand = _bm25_per_doc(spark, sf_dir).where(
        F.col("doc_id") != F.col("query_id")
    )
    lex = salted_topk(
        lex_cand,
        "query_id",
        [F.col("s").desc(), F.col("doc_id").asc()],
        _TOPK,
        salt_col="doc_id",
    ).select("query_id", "doc_id", F.col("rank").cast("int").alias("r_lex"))
    emb = _t(spark, sf_dir, "embeddings")
    qvecs = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").cast("int").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(qvecs))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
                6,
            ).alias("cos"),
        )
    )
    vec = (
        salted_topk(
            scored, "query_id", [F.desc("cos"), F.asc("doc_id")], _TOPK,
            salt_col="doc_id",
        )
        .select("query_id", "doc_id", F.col("rank").alias("r_vec"))
    )
    rrf = F.round(
        F.when(F.col("r_lex").isNotNull(), 1.0 / (_RRF_K + F.col("r_lex"))).otherwise(0.0)
        + F.when(F.col("r_vec").isNotNull(), 1.0 / (_RRF_K + F.col("r_vec"))).otherwise(0.0),
        6,
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        rrf.alias("rrf"),
        F.coalesce("r_lex", F.lit(0)).cast("int").alias("r_lex"),
        F.coalesce("r_vec", F.lit(0)).cast("int").alias("r_vec"),
    )
    final = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(final).cast("int"))
        .where(F.col("rank") <= _TOPK)
        .select("query_id", "rank", "doc_id", "rrf", "r_lex", "r_vec")
        .orderBy("query_id", "rank")
    )


def _hybrid_sql() -> str:
    from .similarity import _cos_sql

    qid_list = ", ".join(str(qid) for qid, _ in _BM25_QUERIES)
    return f"""
WITH {_bm25_scored_ctes()}, lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r_lex
  FROM scored
  WHERE doc_id <> query_id
  QUALIFY r_lex <= {_TOPK}
), qv AS (
  SELECT CAST(vec_id AS INT) AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id IN ({qid_list})
), vscored AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         ROUND({_cos_sql('e.embedding', 'q.qv')}, 6) AS cos
  FROM embeddings e CROSS JOIN qv q
  WHERE e.vec_id <> q.query_id
), vec AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r_vec
  FROM vscored
  QUALIFY r_vec <= {_TOPK}
), fused AS (
  SELECT query_id, doc_id,
         ROUND(CASE WHEN r_lex IS NULL THEN 0.0 ELSE 1.0 / ({_RRF_K} + r_lex) END
             + CASE WHEN r_vec IS NULL THEN 0.0 ELSE 1.0 / ({_RRF_K} + r_vec) END,
               6) AS rrf,
         CAST(COALESCE(r_lex, 0) AS INT) AS r_lex,
         CAST(COALESCE(r_vec, 0) AS INT) AS r_vec
  FROM lex FULL JOIN vec USING (query_id, doc_id)
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank,
       doc_id, rrf, r_lex, r_vec
FROM fused
QUALIFY rank <= {_TOPK}
ORDER BY query_id, rank
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_unigram_logprob": q_unigram_logprob,
    "t_hybrid_rrf": q_hybrid_rrf,
}

ORACLE_SQL: Dict[str, str] = {
    "t_unigram_logprob": _UNIGRAM_SQL,
    "t_hybrid_rrf": _hybrid_sql(),
}
