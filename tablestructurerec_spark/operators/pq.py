"""Product-quantization ANN (Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search", TPAMI) — the memory-bounded
scale path the IVF/LSH variants in ``operators/similarity.py`` don't
cover: at 10^12 vectors the embeddings themselves (256 B/vector at 64-dim
float32) dominate storage, and PQ compresses each vector to ``M`` byte
codes (here 8 codes = 32× smaller) that still support approximate distance
scoring without ever touching the original vector.

* **Fit**: the embedding space splits into ``M`` contiguous subspaces;
  each gets its own ``k_sub``-centroid codebook via the deterministic
  Lloyd kernel (``core/kmeans.py``) on the same BOUNDED id-range sample as
  the IVF quantizer — pure function of the sample, so the DuckDB oracle
  refits bit-identical codebooks and the operator gets a full value-hash
  oracle.
* **Encode**: one corpus scan × broadcast of the M·k_sub sub-centroids
  (128 rows), per-subspace argmin → ``(vec_id, m, code)``.  Map-side until
  the (vec_id, m) argmin combine; production would persist these codes as
  the compact index (8 B/vector) — the encode is a one-time build cost,
  like the LSH band index.
* **Query (ADC)**: the query's per-(subspace, centroid) distance table is
  O(M·k_sub); approximate distance = Σ_m table[m][code_m], an integer sum
  (each entry INTEGER-SCALED at 1e-6 so summation order cannot break
  cross-engine parity).  Top candidates by ADC are TakeOrdered (never a
  global sort), then exactly cosine re-ranked against the raw vectors —
  the standard PQ + re-rank recipe.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.similarity import (
    _cos_sql,
    _dot,
    _kmeans_sample_np,
    _norm,
    _sqdist,
    _SQDIST_SQL,
)

__all__ = ["q_ann_pq_topk", "pq_oracle"]

_PQ_M = 8  # subspaces
_PQ_KSUB = 16  # centroids per subspace (codes fit a nibble here, a byte at 256)
_PQ_CAND = 50  # ADC candidates that reach the exact re-rank
_PQ_ITERS = 8
_TOPK = 10
_SAMPLE_MAX_ID = 131_072
_ADC_SCALE = 1_000_000  # 1e-6 distance resolution for exact integer sums


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def _fit_codebooks(rows) -> List[Tuple[int, int, int, List[float]]]:
    """(sample rows of embeddings) → [(m, cid, off, sub-centroid)] with
    ``off`` the 1-based slice offset of subspace ``m``.  Pure function —
    shared verbatim by the Spark query and the oracle builder."""
    from tablestructurerec_spark.core.kmeans import lloyd

    x = _kmeans_sample_np(rows)
    dim = x.shape[1]
    if dim % _PQ_M:
        raise ValueError(f"dim {dim} not divisible by M={_PQ_M}")
    sub = dim // _PQ_M
    out: List[Tuple[int, int, int, List[float]]] = []
    for m in range(_PQ_M):
        centers = lloyd(x[:, m * sub : (m + 1) * sub], _PQ_KSUB, _PQ_ITERS)
        for cid, c in enumerate(centers):
            out.append((m, cid, m * sub + 1, [float(v) for v in c]))
    return out


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN against the ``vec_id=0`` query vector:
    ``(vec_id, label, approx_d, cos, rk)`` — ``approx_d`` is the ADC
    (asymmetric) squared distance from the codes alone, ``cos``/``rk``
    the exact re-rank of the top candidates."""
    emb = _t(spark, sf_dir, "embeddings")
    sample = (
        emb.where((F.col("vec_id") != 0) & (F.col("vec_id") < _SAMPLE_MAX_ID))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    sub = len(sample[0].embedding) // _PQ_M
    cents = spark.createDataFrame(
        _fit_codebooks([r.embedding for r in sample]),
        "m int, cid int, off int, cv array<double>",
    )
    d_col = F.round(
        _sqdist(F.slice(F.col("embedding"), F.col("off"), sub), F.col("cv")), 6
    )
    codes = (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .groupBy("vec_id", "m")
        .agg(
            F.min(F.struct(d_col.alias("d"), F.col("cid").alias("cid"))).alias(
                "best"
            )
        )
        .select("vec_id", "m", F.col("best.cid").alias("code"))
    )
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    adc = (
        cents.crossJoin(F.broadcast(qv))
        .select(
            "m",
            F.col("cid").alias("code"),
            F.round(
                F.round(
                    _sqdist(F.slice(F.col("qemb"), F.col("off"), sub), F.col("cv")),
                    6,
                )
                * _ADC_SCALE
            )
            .cast("long")
            .alias("qd"),
        )
    )
    cand = (
        codes.join(F.broadcast(adc), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("qd").alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_PQ_CAND)
    )
    scored = (
        cand.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            F.round(F.col("adc") / float(_ADC_SCALE), 6).alias("approx_d"),
            F.round(
                _dot(F.col("embedding"), F.col("qemb"))
                / (_norm(F.col("embedding")) * _norm(F.col("qemb"))),
                6,
            ).alias("cos"),
        )
    )
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_TOPK)
        .select(
            "vec_id",
            "label",
            "approx_d",
            "cos",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .orderBy("rk")
    )


def pq_oracle(sf_dir: str) -> str:
    """Refit the codebooks from the parquet with the same pure fit and
    replay encode → ADC → re-rank in SQL (sub-centroids as exact float64
    literals).  Built per sf_dir, lazily."""
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"WHERE vec_id <> 0 AND vec_id < {_SAMPLE_MAX_ID} ORDER BY vec_id"
    ).fetchall()
    books = _fit_codebooks([r[0] for r in rows])
    sub = len(books[0][3])
    vals = ",\n    ".join(
        f"({m}, {cid}, {off}, [{', '.join(f'{v:.17g}' for v in cv)}]::DOUBLE[])"
        for m, cid, off, cv in books
    )
    slice_emb = f"list_slice(e.embedding, c.off, c.off + {sub - 1})"
    return f"""
WITH cents AS (
  SELECT * FROM (VALUES
    {vals}
  ) AS t(m, cid, off, cv)
), enc AS (
  SELECT e.vec_id, c.m, c.cid,
         {_SQDIST_SQL.format(a=slice_emb, b='c.cv')} AS d,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id, c.m
           ORDER BY {_SQDIST_SQL.format(a=slice_emb, b='c.cv')} ASC, c.cid ASC
         ) AS rnk
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id <> 0
), codes AS (
  SELECT vec_id, m, cid AS code FROM enc WHERE rnk = 1
), q AS (
  SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0
), adc AS (
  SELECT c.m, c.cid AS code,
         CAST(ROUND({_SQDIST_SQL.format(a='list_slice(q.qemb, c.off, c.off + ' + str(sub - 1) + ')', b='c.cv')} * {_ADC_SCALE}) AS BIGINT) AS qd
  FROM cents c CROSS JOIN q
), cand AS (
  SELECT k.vec_id, SUM(a.qd) AS adc
  FROM codes k JOIN adc a USING (m, code)
  GROUP BY k.vec_id
  ORDER BY adc ASC, k.vec_id ASC
  LIMIT {_PQ_CAND}
), scored AS (
  SELECT e.vec_id, e.label,
         ROUND(c.adc / {_ADC_SCALE}.0, 6) AS approx_d,
         ROUND({_cos_sql('e.embedding', 'q.qemb')}, 6) AS cos
  FROM cand c JOIN embeddings e USING (vec_id), q
)
SELECT vec_id, label, approx_d, cos,
       CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS INT) AS rk
FROM scored
ORDER BY cos DESC, vec_id ASC
LIMIT {_TOPK}
"""
