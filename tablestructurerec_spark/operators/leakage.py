"""Embedding-space split-leakage audit — paraphrased copies straddling the
train / val / test boundary.

Why this audit exists: the content-stable split (``sampling.split_label_col``)
hashes the document KEY, so two records with different ids but the same
meaning can land on opposite sides of the split — the eval-set
contamination that silently inflates benchmark numbers.  Paraphrases share
no shingles (translations, rewrites, code ports), so exact-hash and MinHash
audits miss them; their embeddings stay cosine-near.

Returns ``(train_vec_id, eval_vec_id, eval_split, cos)``.  Standalone
operator with a pytest DuckDB-parity oracle.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.sampling import (
    split_label_col,
    split_label_sql,
)

__all__ = ["QUERIES", "q_split_leakage_emb", "emb_leakage_sql"]


# cosine floor for an embedding-space leak candidate: well below the
# ~0.99+ of a true paraphrase pair, well above the ~0.55 extreme-value
# ceiling of 64-d isotropic noise at bench pair counts — so the audit
# surfaces real semantic copies without drowning in noise
_EMB_COS_THRESH = 0.8


def q_split_leakage_emb(
    spark: SparkSession, sf_dir: str, thresh: float = _EMB_COS_THRESH
) -> DataFrame:
    """Cosine-near train/eval pairs (PARAPHRASED copies).

    Reuses the sign-LSH bucket expressions of ``operators/similarity.py``
    on both engines (the audit cannot drift from the ANN index it
    complements), split labels attached pre-join as a pure vec_id
    projection, candidates only where train and eval collide in a bucket
    (multi-probe Hamming-1 on the eval side, the recall lever), norms
    HOISTED out of the pair frame.  Never all-pairs: candidate count is
    ``(1 + planes) / 2^planes`` of the cross product and the join runs on
    the bucket key.

    Returns ``(train_vec_id, eval_vec_id, eval_split, cos)`` for pairs
    with ``cos >= thresh``, cosine rounded to 6dp BEFORE the threshold
    (round-then-compare keeps both engines on the same side of the
    boundary).  On the ISOTROPIC synthetic bench corpus the default
    threshold correctly returns an empty audit (max noise cosine ≈ 0.55
    at bench pair counts) — the positive path is pinned by the planted
    paraphrase-twin pytest, and oracle parity is additionally asserted at
    a low threshold where rows exist."""
    from tablestructurerec_spark.operators.similarity import (
        _N_PLANES,
        _bucket_bits,
        _dot,
        _norm,
    )
    from tablestructurerec_spark.sources.read import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id",
        "embedding",
        split_label_col(F.col("vec_id")).alias("split"),
        _bucket_bits(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    train = bucketed.where(F.col("split") == "train").select(
        F.col("vec_id").alias("train_vec_id"),
        F.col("embedding").alias("tv"),
        F.col("nrm").alias("tn"),
        "bucket",
    )
    evals = bucketed.where(F.col("split") != "train").select(
        F.col("vec_id").alias("eval_vec_id"),
        F.col("split").alias("eval_split"),
        F.col("embedding").alias("ev"),
        F.col("nrm").alias("en"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(_N_PLANES)],
            )
        ).alias("probe"),
    )
    # probes per eval row are distinct buckets, so no pair appears twice
    return (
        train.join(evals, F.col("bucket") == F.col("probe"))
        .select(
            "train_vec_id",
            "eval_vec_id",
            "eval_split",
            F.round(
                _dot(F.col("tv"), F.col("ev")) / (F.col("tn") * F.col("en")), 6
            ).alias("cos"),
        )
        .where(F.col("cos") >= thresh)
        .orderBy("train_vec_id", "eval_vec_id")
    )


def emb_leakage_sql(thresh: float = _EMB_COS_THRESH) -> str:
    """DuckDB twin of :func:`q_split_leakage_emb` — value-exact (reuses the
    sign-LSH bucket SQL and the cosine SQL of the ANN family)."""
    from tablestructurerec_spark.operators.similarity import _N_PLANES, _bits_sql, _cos_sql

    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(_N_PLANES)]
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {split_label_sql('vec_id')} AS split,
         CAST({_bits_sql()} AS INT) AS bucket
  FROM embeddings
), train AS (
  SELECT vec_id AS train_vec_id, embedding AS tv, bucket
  FROM bucketed WHERE split = 'train'
), evals AS (
  SELECT vec_id AS eval_vec_id, split AS eval_split, embedding AS ev,
         CAST(p.probe AS INT) AS probe
  FROM bucketed, UNNEST([{probe_list}]) AS p(probe)
  WHERE split <> 'train'
), scored AS (
  SELECT train_vec_id, eval_vec_id, eval_split,
         ROUND({_cos_sql('tv', 'ev')}, 6) AS cos
  FROM train JOIN evals ON bucket = probe
)
SELECT * FROM scored WHERE cos >= {thresh}
ORDER BY train_vec_id, eval_vec_id
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_split_leakage_emb": q_split_leakage_emb,
}
