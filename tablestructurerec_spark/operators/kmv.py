"""KMV (k-minimum-values) distinct-count sketch — per-source vocabulary
cardinality estimation WITHOUT a full-vocabulary distinct shuffle.

Why a sketch at 100 TB: ``COUNT(DISTINCT token)`` per source shuffles the
whole (source, token) vocabulary — billions of rows for a web corpus, and
re-runs from scratch every ingest.  The KMV sketch (Bar-Yossef et al. 2002;
Beyer et al. 2007 "On Synopses for Distinct-Value Estimation") keeps only
the k smallest distinct hash values per group: a FIXED-SIZE, mergeable
summary whose estimator ``(k-1) / U_(k)`` (k-th smallest normalized hash)
has relative standard error ~ 1/sqrt(k-2) (~6% at k=256).

Spark shape, audited for 100 TB:

* tokens are hashed map-side (one md5 per token, 13 hex chars → a 2^52
  space so the integer estimator below cannot overflow BIGINT);
* the k-smallest-distinct filter is a ``dense_rank() <= k`` window, which
  Spark's ``InferWindowGroupLimit`` rewrites into a PRE-SHUFFLE partial
  top-k (plan-pinned in tests): every map partition forwards at most k
  distinct hashes per source — the shuffle carries O(partitions × k), not
  the vocabulary.  That partial limit IS the distributed sketch merge.
* the estimator is ALL-INTEGER: ``(k-1) * 2^52 DIV kth_hash`` — identical
  under any reduction order and in any engine, so the operator carries a
  full value-exact DuckDB oracle (a component of the ``t_sketch_audit``
  driver row, not registered on its own).

Returns one row per source: ``(source, n_kept, kth_hv, est_distinct)``.
When a source has fewer than k distinct hashes the sketch IS the exact
distinct set and ``est_distinct = n_kept`` exactly.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.textstats import tokens_col, tokens_sql

__all__ = [
    "q_distinct_kmv",
    "distinct_kmv",
    "kmv_sql",
    "HASH_SPACE",
    "DEFAULT_K",
]

# 13 hex chars: 16^13 = 2^52.  (k-1) * 2^52 stays far under 2^63 for any
# sane k; md5 collisions in 2^52 are negligible at test scale and at worst
# bias the estimate like any hash-based DV sketch.
HASH_SPACE = 1 << 52
DEFAULT_K = 256


def q_distinct_kmv(spark: SparkSession, sf_dir: str, k: int = DEFAULT_K) -> DataFrame:
    """Per-source distinct-token estimate from a k-minimum-values sketch."""
    from tablestructurerec_spark.sources.read import read_table

    return distinct_kmv(read_table(spark, sf_dir, "documents"), k=k)


def distinct_kmv(docs: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Sketch + estimate over an arbitrary ``(source, text)`` frame."""
    toks = docs.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select(
        "source",
        F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("long").alias("hv"),
    )
    # dense_rank (not row_number): duplicates of one hash must not consume
    # sketch slots — KMV is defined over DISTINCT hash values.
    rn = F.dense_rank().over(Window.partitionBy("source").orderBy("hv"))
    kept = (
        toks.withColumn("rn", rn)
        .where(F.col("rn") <= k)
        .select("source", "hv")
        .distinct()
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("hv").cast("long").alias("n_kept"),
            F.max("hv").alias("kth_hv"),
        )
        .select(
            "source",
            "n_kept",
            "kth_hv",
            F.expr(
                f"CASE WHEN n_kept < {k} THEN n_kept "
                f"ELSE {(k - 1) * HASH_SPACE} DIV kth_hv END"
            ).alias("est_distinct"),
        )
        .orderBy("source")
    )


def kmv_sql(k: int = DEFAULT_K) -> str:
    """DuckDB twin of :func:`q_distinct_kmv` — value-exact."""
    return f"""
WITH toks AS (
  SELECT source, ('0x' || substr(md5(tok), 1, 13))::BIGINT AS hv
  FROM (SELECT source, unnest({tokens_sql()}) AS tok FROM documents)
), kept AS (
  SELECT DISTINCT source, hv
  FROM (SELECT source, hv,
               dense_rank() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM toks)
  WHERE rn <= {k}
)
SELECT source,
       CAST(count(hv) AS BIGINT) AS n_kept,
       max(hv) AS kth_hv,
       CASE WHEN count(hv) < {k} THEN count(hv)
            ELSE {(k - 1) * HASH_SPACE} // max(hv) END AS est_distinct
FROM kept
GROUP BY source
ORDER BY source
"""
