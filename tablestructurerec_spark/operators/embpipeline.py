"""Fused embedding-pipeline audit — the composed face the driver registry
certifies for the JL / banding / leakage trio (round-5 rotation, the
``t_url_hygiene`` / ``t_agent_trace_audit`` precedent): project the corpus
with the PRODUCTION Johnson–Lindenstrauss ±1 matrix (``operators/jl.py``),
band the PROJECTED vectors with an integer sign-LSH, multi-probe the eval
side (Hamming radius 1 — the recall lever ``leakage.q_split_leakage_emb``
also pulls), and emit the split-leakage verdict:
train/eval pairs whose projected-space cosine clears the threshold.

One oracle row certifies every stage, because the composed DuckDB SQL
recomputes all of them: a wrong sign in the JL matrix, a wrong plane bit, a
missed probe, a drifted split label, or a mis-rounded cosine each flips the
value hash.

Why this is the shape a 100 TB embedding pipeline actually runs: the JL
projection (map-only, one scan) shrinks every byte the banding shuffles by
``D_IN/D_OUT = 4×``, and the leakage audit then runs entirely in the small
space — banding, probing, and the candidate cosines all touch 16 BIGINTs
per vector instead of 64 floats.  The verdict differs from auditing the
original space only through the JL distortion (1±ε), which preserves
neighbourhoods only when neighbours are separated from non-neighbours.

Cross-engine discipline: the projection is the SINGLE-SOURCED
``jl._proj_spark`` / ``jl._proj_duck`` micro-unit BIGINT fold (bit-exact);
the LSH planes here are ±1 INTEGER sign rows (md5-derived like
:func:`jl.sign_matrix`, different salt), so bucket bits come from pure
BIGINT folds — no float enters until the final cosine, whose
div/sqrt/round are correctly-rounded IEEE and bit-identical across engines
(the SCALING.md §2 discipline).  Split labels are
``sampling.split_label_col`` — THE one split definition.

Spark shape, audited for 100 TB: projection + bucketing are MAP-ONLY over
one scan (the projected vector is materialized ONCE per row behind a
projection boundary — the urls.py codegen lesson: downstream stages
reference the ``proj`` COLUMN, never re-inline the 64-term fold).  The
join is equi on the bucket key — candidates are ``(1 + planes) / 2^planes``
of the train × eval cross product, never all-pairs; the probe explode
multiplies the (smaller) eval side by ``planes + 1`` only.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.jl import _proj_duck, _proj_spark
from tablestructurerec_spark.operators.sampling import (
    split_label_col,
    split_label_sql,
)

__all__ = [
    "QUERIES",
    "ORACLE_SQL",
    "q_emb_pipeline",
    "emb_pipeline",
    "emb_pipeline_sql",
    "lsh_sign_matrix",
    "N_PLANES",
    "COS_THRESH",
]

N_PLANES = 8
# verdict floor in the PROJECTED space: JL distorts cosines by (1±ε), so
# the audit threshold is set on (and pinned against) projected-space
# values; on the isotropic bench corpus this surfaces a bounded candidate
# tail (projected 16-d noise cosines spread ~4x wider than 64-d), on the
# planted-paraphrase pytest it captures the twins at ~1.0
COS_THRESH = 0.62


def lsh_sign_matrix(n_planes: int = N_PLANES, d: int = 16) -> List[List[int]]:
    """Deterministic ±1 plane rows over the PROJECTED dims — the
    :func:`jl.sign_matrix` derivation with its own salt, so plane p and JL
    row j can never alias."""
    return [
        [
            1 if hashlib.md5(f"plsh:{p}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(d)
        ]
        for p in range(n_planes)
    ]


def _plane_lit_spark(row: List[int]) -> str:
    return "array(" + ", ".join(f"{s}L" for s in row) + ")"


def _plane_lit_duck(row: List[int]) -> str:
    return "[" + ", ".join(str(s) for s in row) + "]"


def _bucket_spark(proj: str = "proj") -> str:
    """Integer sign-LSH bucket over the projected BIGINT vector — all-BIGINT
    folds, one per plane."""
    bits = []
    for p, row in enumerate(lsh_sign_matrix()):
        fold = (
            f"aggregate(zip_with({proj}, {_plane_lit_spark(row)}, "
            f"(x, s) -> x * s), 0L, (a, x) -> a + x)"
        )
        bits.append(f"IF({fold} >= 0L, {1 << p}, 0)")
    return "CAST(" + " + ".join(bits) + " AS INT)"


def _bucket_duck(proj: str = "proj") -> str:
    bits = []
    for p, row in enumerate(lsh_sign_matrix()):
        fold = (
            f"list_sum(list_transform(list_zip({proj}, {_plane_lit_duck(row)}), "
            f"z -> z[1] * z[2]))"
        )
        bits.append(f"CASE WHEN {fold} >= 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(bits) + " AS INT)"


# exact integer squared norm of the projected vector (sqrt deferred to the
# cosine, where div/sqrt are correctly-rounded IEEE on both engines)
_SQN_SPARK = "aggregate(zip_with(proj, proj, (x, y) -> x * y), 0L, (a, x) -> a + x)"
_SQN_DUCK = "CAST(list_sum(list_transform(proj, x -> x * x)) AS BIGINT)"

_COS_SPARK = (
    "round(CAST(aggregate(zip_with(tp, ep, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    " AS DOUBLE) / (sqrt(CAST(tn AS DOUBLE)) * sqrt(CAST(en AS DOUBLE))), 6)"
)
_COS_DUCK = (
    "round(CAST(list_sum(list_transform(list_zip(tp, ep), z -> z[1] * z[2]))"
    " AS DOUBLE) / (sqrt(tn::DOUBLE) * sqrt(en::DOUBLE)), 6)"
)


def q_emb_pipeline(
    spark: SparkSession, sf_dir: str, thresh: float = COS_THRESH
) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return emb_pipeline(read_table(spark, sf_dir, "embeddings"), thresh)


def emb_pipeline(emb: DataFrame, thresh: float = COS_THRESH) -> DataFrame:
    """``(train_vec_id, eval_vec_id, eval_split, cos)`` pairs whose
    projected-space cosine ≥ ``thresh`` — ordered for oracle determinism
    (a production face drops the sort and writes the verdict table)."""
    # stage 1: the projection barrier — proj is a COLUMN from here on
    staged = emb.select(
        "vec_id",
        split_label_col(F.col("vec_id")).alias("split"),
        F.expr(_proj_spark()).alias("proj"),
    )
    # stage 2: bucket + squared norm reference the staged column
    bucketed = staged.select(
        "vec_id",
        "split",
        "proj",
        F.expr(_bucket_spark()).alias("bucket"),
        F.expr(_SQN_SPARK).alias("sqn"),
    )
    train = bucketed.where(F.col("split") == "train").select(
        F.col("vec_id").alias("train_vec_id"),
        F.col("proj").alias("tp"),
        F.col("sqn").alias("tn"),
        "bucket",
    )
    evals = bucketed.where(F.col("split") != "train").select(
        F.col("vec_id").alias("eval_vec_id"),
        F.col("split").alias("eval_split"),
        F.col("proj").alias("ep"),
        F.col("sqn").alias("en"),
        # multi-probe Hamming-1: probes per eval row are distinct buckets,
        # so no pair can appear twice
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(N_PLANES)
                ],
            )
        ).alias("probe"),
    )
    return (
        train.join(evals, F.col("bucket") == F.col("probe"))
        .select(
            "train_vec_id",
            "eval_vec_id",
            "eval_split",
            F.expr(_COS_SPARK).alias("cos"),
        )
        .where(F.col("cos") >= thresh)
        .orderBy("train_vec_id", "eval_vec_id")
    )


def emb_pipeline_sql(thresh: float = COS_THRESH) -> str:
    """DuckDB twin of :func:`q_emb_pipeline` — value-exact; recomputes the
    JL projection, the integer plane bits, the probe set, the split labels,
    and the cosine."""
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(N_PLANES)]
    )
    return f"""
WITH staged AS (
  SELECT vec_id, {split_label_sql('vec_id')} AS split,
         {_proj_duck()} AS proj
  FROM embeddings
), bucketed AS (
  SELECT vec_id, split, proj,
         {_bucket_duck()} AS bucket,
         {_SQN_DUCK} AS sqn
  FROM staged
), train AS (
  SELECT vec_id AS train_vec_id, proj AS tp, sqn AS tn, bucket
  FROM bucketed WHERE split = 'train'
), evals AS (
  SELECT vec_id AS eval_vec_id, split AS eval_split, proj AS ep, sqn AS en,
         unnest([{probes}]) AS probe
  FROM bucketed WHERE split <> 'train'
)
SELECT train_vec_id, eval_vec_id, eval_split, {_COS_DUCK} AS cos
FROM train t JOIN evals e ON t.bucket = e.probe
WHERE {_COS_DUCK} >= {thresh}
ORDER BY train_vec_id, eval_vec_id
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_emb_pipeline": q_emb_pipeline,
}

ORACLE_SQL: Dict[str, str] = {
    "t_emb_pipeline": emb_pipeline_sql(),
}
