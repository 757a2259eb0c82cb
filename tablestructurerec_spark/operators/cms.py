"""Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) —
corpus-scale frequent-token mining with a FIXED-SIZE frequency summary.

Why a sketch at 100 TB: exact corpus token counts shuffle the whole
vocabulary (billions of `(token, count)` rows for web text) just to read
off the few hundred heaviest.  The count-min sketch compresses the stream
into a d×w counter grid (here 4×2048 = 8192 rows, independent of corpus
size): additive, mergeable, and one-sided — ``estimate >= true`` always,
``estimate <= true + e·N/w`` with probability ``1 - e^-d``.

Two-part plan, audited for 100 TB:

* **sketch build** — tokens fan out to d ``(row, bucket)`` keys map-side
  (d md5s per token) and partial-aggregate into the grid: ONE shuffle
  whose reduce side is at most d·w rows regardless of input size.
* **candidates** — a deterministic content-hash sample of documents
  donates its distinct vocabulary (any token with frequency ≥ N/k appears
  in a p-fraction doc sample w.h.p.); candidates then equi-join the d
  relevant grid cells and take ``min`` over the d row estimates.  The
  sketch side is d·w rows → broadcast (plan-pinned); the candidate side
  never shuffles the full vocabulary.

Everything is md5-derived integer arithmetic, so the operator carries a
full value-exact DuckDB oracle (a component of the ``t_sketch_audit``
driver row, not registered on its own).  Output: top-N ``(token, est_count)`` by estimate, token
ties broken lexicographically.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.textstats import tokens_col, tokens_sql

__all__ = [
    "q_heavy_hitters_cms",
    "cms_sketch",
    "cms_estimate",
    "cms_sql",
    "D_ROWS",
    "W_BUCKETS",
]

D_ROWS = 4
W_BUCKETS = 2048
SAMPLE_PCT = 10  # candidate-donor doc sample: md5(doc_id) % 100 < 10
TOP_N = 20


def _bucket(tok, i: int):
    """Row-i bucket for a token: md5 over a row-salted key, mod w."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), tok)), 1, 13), 16, 10)
        .cast("long")
        % W_BUCKETS
    )


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )


def cms_sketch(docs: DataFrame) -> DataFrame:
    """d×w counter grid ``(row, bucket, cnt)`` — at most d·w rows."""
    toks = _tokens(docs)
    fanout = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"), _bucket(F.col("tok"), i).alias("bucket")
                    )
                    for i in range(D_ROWS)
                ]
            )
        ).alias("cell")
    ).select("cell.row", "cell.bucket")
    return fanout.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def cms_estimate(candidates: DataFrame, sketch: DataFrame) -> DataFrame:
    """Point-query each candidate token: min over the d row estimates."""
    keyed = candidates.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"), _bucket(F.col("tok"), i).alias("bucket")
                    )
                    for i in range(D_ROWS)
                ]
            )
        ).alias("cell"),
    ).select("tok", "cell.row", "cell.bucket")
    return (
        keyed.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est_count"))
    )


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N heavy-hitter tokens by count-min estimate."""
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, sf_dir, "documents")
    sketch = cms_sketch(docs)
    sampled = docs.where(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        % 100
        < SAMPLE_PCT
    )
    candidates = _tokens(sampled).select("tok").distinct()
    return (
        cms_estimate(candidates, sketch)
        .orderBy(F.desc("est_count"), "tok")
        .limit(TOP_N)
    )


def cms_sql() -> str:
    """DuckDB twin of :func:`q_heavy_hitters_cms` — value-exact."""
    buckets = ",\n         ".join(
        f"('0x' || substr(md5('{i}:' || tok), 1, 13))::BIGINT % {W_BUCKETS}"
        f" AS b{i}"
        for i in range(D_ROWS)
    )
    cells = " UNION ALL ".join(
        f"SELECT {i} AS row, b{i} AS bucket FROM buckets" for i in range(D_ROWS)
    )
    cand_cells = " UNION ALL ".join(
        f"SELECT tok, {i} AS row, b{i} AS bucket FROM cand_buckets"
        for i in range(D_ROWS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql()}) AS tok FROM documents
), buckets AS (
  SELECT {buckets}
  FROM toks
), sketch AS (
  SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM ({cells}) GROUP BY row, bucket
), cand AS (
  SELECT DISTINCT tok FROM toks
  WHERE doc_id IN (
    SELECT doc_id FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT % 100 < {SAMPLE_PCT}
  )
), cand_buckets AS (
  SELECT tok, {buckets}
  FROM cand
), est AS (
  SELECT c.tok, min(s.cnt) AS est_count
  FROM ({cand_cells}) c JOIN sketch s USING (row, bucket)
  GROUP BY c.tok
)
SELECT tok, est_count FROM est
ORDER BY est_count DESC, tok
LIMIT {TOP_N}
"""
