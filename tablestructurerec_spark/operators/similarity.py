"""Similarity search over the ``embeddings`` table (array<float> column).

* brute-force cosine top-k — the correctness baseline: broadcast the query
  vector, one scan, TakeOrderedAndProject.  At 100 TB this is the
  one-query-vector case; the dot product is a sequential ``zip_with`` +
  ``aggregate`` in doubles (JVM codegen, no Python).
* IVF top-k — the scale path: inverted lists under a coarse quantizer
  trained by deterministic k-means on a bounded sample, nprobe nearest
  lists exactly re-ranked.  On clustered data it reaches ≥0.8 recall@10
  (tests/test_similarity_quality.py); on the driver's isotropic random
  embeddings recall is necessarily ≈ the probed fraction — there is no
  neighborhood structure to exploit, only the exact brute-force path can do
  better.
* sign-LSH buckets — every vector hashed to a bucket by the sign pattern of
  dot products with deterministic pseudo-hyperplanes; the triplet miner and
  the embedding leakage audit join on them.
* embedding cosine near-dup pairs — sorted-neighborhood blocking by label +
  vec_id window, exact cosine on candidates (the embedding face of dedup).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["QUERIES", "ORACLE_SQL"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
_NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)})"
    )


_TOPK = 10


# ---------------------------------------------------------------------------
# brute-force cosine top-k against the vec_id=0 query vector
# ---------------------------------------------------------------------------
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
                6,
            ).alias("cos"),
        )
    )
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_TOPK)
        .select(
            "vec_id",
            "label",
            "cos",
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), F.asc("vec_id")))
            .cast("int")
            .alias("rk"),
        )
        .orderBy("rk")
    )


_ANN_BRUTE_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, label,
         ROUND({_cos_sql('embedding', 'qv')}, 6) AS cos
  FROM embeddings, q
  WHERE vec_id <> 0
)
SELECT vec_id, label, cos,
       CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS INT) AS rk
FROM scored
ORDER BY cos DESC, vec_id ASC
LIMIT {_TOPK}
"""


# ---------------------------------------------------------------------------
# sign-LSH buckets
# ---------------------------------------------------------------------------
_N_PLANES = 4
_DIM = 64


def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-hyperplane weights in [-1, 1): a fixed LCG on
    (plane, dim) — identical arithmetic in SQL below."""
    v = (1103515245 * (p * _DIM + d) + 12345) % 65536
    return v / 32768.0 - 1.0


def _bucket_bits(col: Column) -> Column:
    """Sign-LSH bucket id from the deterministic pseudo-hyperplanes."""
    bits = []
    for p in range(_N_PLANES):
        proj = F.aggregate(
            F.zip_with(
                col,
                F.array(*[F.lit(_plane_weight(p, d)) for d in range(_DIM)]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, 1).otherwise(0) * (1 << p))
    return sum(bits).cast("int")


def _plane_sql(p: int) -> str:
    # identical LCG arithmetic; i is the 1-based list index → d = i-1
    return (
        "list_sum(list_transform(range(1, {dim}+1), i -> "
        "CAST(embedding[i] AS DOUBLE) * "
        "(((1103515245 * (({p}) * {dim} + (i - 1)) + 12345) % 65536) / 32768.0 - 1.0)"
        "))"
    ).format(p=p, dim=_DIM)


def _bits_sql() -> str:
    """SQL twin of :func:`_bucket_bits` — single-sourced so the LSH-family
    oracles cannot disagree about bucketing."""
    return " + ".join(
        f"(CASE WHEN {_plane_sql(p)} >= 0 THEN 1 ELSE 0 END) * {1 << p}"
        for p in range(_N_PLANES)
    )


# ---------------------------------------------------------------------------
# IVF bucketed top-k (inverted-file coarse quantizer + probed exact re-rank)
# ---------------------------------------------------------------------------
_IVF_LISTS = 16  # coarse centroids
_IVF_NPROBE = 2
# trained-quantizer sample bound: fixed id RANGE so the k-means training set
# stays O(1) as the corpus grows (never a fraction of the corpus)
_KMEANS_SAMPLE_MAX_ID = 131_072


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ivf_from_centroids(emb: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """IVF plumbing over a centroid table ``(cid, cv)``: assignment,
    probing, exact re-rank.  At scale the centroid table is O(L) →
    broadcast; assignment is a map-side argmin (partial-agg min of
    (dist, cid) structs); the probed-list filter is a broadcast semi-join,
    so the exact work touches ~nprobe/L of the data."""
    # nearest list per vector: broadcast x centroids, min struct(dist, cid)
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    F.round(_sqdist(F.col("embedding"), F.col("cv")), 6).alias("d"),
                    F.col("cid").alias("cid"),
                )
            ).alias("best")
        )
        .select("vec_id", F.col("best.cid").alias("list_id"))
    )
    member = emb.join(assigned, "vec_id").select("vec_id", "label", "embedding", "list_id")
    # the query embedding comes straight off the scan — routing it through
    # `member` would re-evaluate the whole corpus-wide assignment subplan on
    # the broadcast side just to read one row
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    # nprobe nearest centroid lists to the query vector
    probes = (
        cents.crossJoin(F.broadcast(qv))
        .select("cid", F.round(_sqdist(F.col("cv"), F.col("qemb")), 6).alias("d"))
        .orderBy("d", "cid")
        .limit(nprobe)
        .select(F.col("cid").alias("list_id"))
    )
    cand = member.where(F.col("vec_id") != 0).join(F.broadcast(probes), "list_id")
    scored = cand.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        "label",
        "list_id",
        F.round(
            _dot(F.col("embedding"), F.col("qemb"))
            / (_norm(F.col("embedding")) * _norm(F.col("qemb"))),
            6,
        ).alias("cos"),
    )
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_TOPK)
        .select("vec_id", "label", "list_id", "cos", F.row_number().over(w).cast("int").alias("rk"))
        .orderBy("rk")
    )


_KMEANS_ITERS = 8


def _kmeans_sample_np(rows) -> "object":
    """(vec_id-ordered rows of float32-widened embeddings) → float64 matrix.

    Shared by the Spark query (rows off a bounded ``collect``) and the
    DuckDB-oracle builder (rows off a parquet fetch): both widen the same
    float32 parquet values exactly, so :func:`core.kmeans.lloyd` sees
    bit-identical input from either path.
    """
    import numpy as np

    return np.array([list(r) for r in rows], dtype=np.float64)


def q_ann_ivf_kmeans_topk(
    spark: SparkSession,
    sf_dir: str,
    n_lists: int = _IVF_LISTS,
    nprobe: int = _IVF_NPROBE,
) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: deterministic Lloyd k-means
    (``core/kmeans.py``) fits the list centroids on a bounded sample, then
    :func:`_ivf_from_centroids` assigns, probes and re-ranks over them.

    At 100 TB the quantizer trains on a deterministic BOUNDED sample
    (k-means cost is per-training-row; a fixed id range caps it — a few
    hundred thousand rows fix 2^10-2^16 centroids).  The sample is
    collected to the driver (≤131k rows — a bounded small-side collect,
    like lineage metadata), fit in numpy, and the fitted centers —
    O(n_lists · dim) — are broadcast; assignment stays a distributed
    map-side argmin.  Because the fit is a pure function of the sample (no RNG, no
    k-means||), :func:`ivf_kmeans_oracle` refits the identical centers in
    an independent process and replays assignment + probe + re-rank in
    ANSI SQL — the full value-hash oracle round 2 couldn't have.
    """
    from tablestructurerec_spark.core.kmeans import lloyd

    emb = _t(spark, sf_dir, "embeddings")
    sample = (
        emb.where((F.col("vec_id") != 0) & (F.col("vec_id") < _KMEANS_SAMPLE_MAX_ID))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    centers = lloyd(_kmeans_sample_np([r.embedding for r in sample]), n_lists, _KMEANS_ITERS)
    cents = emb.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centers)],
        "cid int, cv array<double>",
    )
    return _ivf_from_centroids(emb, cents, nprobe)


def ivf_kmeans_oracle(sf_dir: str) -> str:
    """Build the DuckDB oracle for :func:`q_ann_ivf_kmeans_topk` at
    ``sf_dir``: refit the quantizer with the same :func:`lloyd` kernel on
    the same bounded sample read straight off the parquet, embed the
    centers as DOUBLE[] literals (17 significant digits — exact float64
    round-trip), and express assignment/probe/re-rank in SQL.

    The centers are sf-specific, so the SQL string is built per sf_dir
    (the driver runs oracles at sf0.01; ``__spark_entry__.oracle_sql``
    passes that).  Called lazily — not at module import — because it reads
    the parquet.
    """
    import duckdb

    from tablestructurerec_spark.core.kmeans import lloyd

    rows = duckdb.connect().execute(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"WHERE vec_id <> 0 AND vec_id < {_KMEANS_SAMPLE_MAX_ID} ORDER BY vec_id"
    ).fetchall()
    centers = lloyd(_kmeans_sample_np([r[0] for r in rows]), _IVF_LISTS, _KMEANS_ITERS)
    vals = ",\n    ".join(
        f"({i}, [{', '.join(f'{v:.17g}' for v in c)}]::DOUBLE[])"
        for i, c in enumerate(centers)
    )
    cents_body = f"SELECT * FROM (VALUES\n    {vals}\n  ) AS t(cid, cv)"
    return f"""
WITH cents AS (
  {cents_body}
), assigned AS (
  SELECT e.vec_id,
         (SELECT c.cid FROM cents c
          ORDER BY {_SQDIST_SQL.format(a='e.embedding', b='c.cv')} ASC, c.cid ASC
          LIMIT 1) AS list_id
  FROM embeddings e
), member AS (
  SELECT e.vec_id, e.label, e.embedding, a.list_id
  FROM embeddings e JOIN assigned a USING (vec_id)
), q AS (
  SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0
), probes AS (
  SELECT c.cid AS list_id
  FROM cents c, q
  ORDER BY {_SQDIST_SQL.format(a='c.cv', b='q.qemb')} ASC, c.cid ASC
  LIMIT {_IVF_NPROBE}
), scored AS (
  SELECT m.vec_id, m.label, m.list_id,
         ROUND({_cos_sql('m.embedding', 'q.qemb')}, 6) AS cos
  FROM member m JOIN probes USING (list_id), q
  WHERE m.vec_id <> 0
)
SELECT vec_id, label, list_id, cos,
       CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS INT) AS rk
FROM scored
ORDER BY cos DESC, vec_id ASC
LIMIT {_TOPK}
"""


_SQDIST_SQL = "round(list_sum(list_transform(list_zip({a}, {b}), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) ** 2)), 6)"


# ---------------------------------------------------------------------------
# embedding cosine near-dup candidate pairs (blocked)
# ---------------------------------------------------------------------------
_PAIR_WINDOW = 40
_COS_MIN = 0.3


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Banded range join: band = floor(vec_id / W); the probe side is exploded
    # into (band, band+1) so every |Δvec_id| ≤ W pair shares an equi key and
    # each true pair matches in exactly one band (b carries a single band).
    # Without the band key the join is equi on label alone and every |group|²
    # label pair reaches the join condition — the cosine (a higher-order
    # aggregate, no subexpression elimination inside join conditions) was
    # measured 16× slower there.  Norms are computed once per vector behind
    # the exchange barrier.
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            "embedding",
            _norm(F.col("embedding")).alias("nrm"),
            F.floor(F.col("vec_id") / _PAIR_WINDOW).cast("long").alias("band"),
        )
    )
    probe = emb.withColumn("band", F.explode(F.array(F.col("band"), F.col("band") + 1)))
    pairs = probe.alias("a").join(
        emb.alias("b"),
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("b.vec_id") > F.col("a.vec_id"))
        & (F.col("b.vec_id") <= F.col("a.vec_id") + _PAIR_WINDOW),
    )
    cos = F.round(
        _dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    # The cosine is evaluated ONCE per candidate pair inside this projection
    # (whole-stage codegen CSE).  The nondeterministic `_np` guard keeps the
    # cos filter from being substituted back into the join condition, where
    # it would run before the cheap range conjuncts on every raw equi match.
    scored = pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.label").alias("label"),
        cos.alias("cos"),
        F.rand(7).alias("_np"),
    )
    return (
        scored.where((F.col("cos") >= _COS_MIN) & (F.col("_np") >= -1.0))
        .select("vec_a", "vec_b", "label", "cos")
        .orderBy("vec_a", "vec_b")
    )


_EMB_PAIRS_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       ROUND({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label
 AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + {_PAIR_WINDOW}
WHERE ROUND({_cos_sql('a.embedding', 'b.embedding')}, 6) >= {_COS_MIN}
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------------
# contrastive triplet mining — (anchor, hardest positive, hardest negative)
# ---------------------------------------------------------------------------
def q_triplet_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every anchor embedding: its most-similar SAME-label candidate
    (the positive) and most-similar DIFFERENT-label candidate (the hard
    negative) among its sign-LSH bucket mates, plus the contrastive margin
    ``cos_pos − cos_neg`` — the data-prep stage for contrastive/triplet
    training, and the hard-negative miner for retrieval finetuning.

    Blocking is the same never-all-pairs discipline as the dedup family:
    candidates come from a bucket equi self-join (each vector has ONE
    bucket here, so a pair is generated at most once), never a cross
    join; anchors whose bucket lacks a same- or different-label mate drop
    out (the standard blocked-mining recall tradeoff — more planes /
    multi-probe widen it).  Cosine rounds to 6dp before ranking, ranks
    break ties on candidate id, and the margin is a difference of two
    already-rounded doubles — all engine-stable.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # norms precompute ONCE per vector (N folds), not once per pair side
    # (2·|pairs| folds) — the identical float expression, just hoisted, so
    # the cosine value is bit-unchanged
    bucketed = emb.select(
        "vec_id", "label", "embedding",
        _bucket_bits(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("anchor"),
            F.col("a.label").alias("a_label"),
            F.col("b.vec_id").alias("cand"),
            F.col("b.label").alias("c_label"),
            F.round(
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cos"),
        )
    )
    # ONE pass over the expensive pair frame: rank within (anchor, label
    # class) and pivot the two rank-1 rows per anchor in a single agg —
    # separate pos/neg branches would each re-run the bucket self-join +
    # 64-dim cosine subtree (the dominant cost)
    same = F.col("a_label") == F.col("c_label")
    w = Window.partitionBy("anchor", same).orderBy(F.desc("cos"), F.asc("cand"))
    best = (
        cand.withColumn("same", same)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
    )
    return (
        best.groupBy("anchor")
        .agg(
            F.max(F.when(F.col("same"), F.col("cand"))).alias("pos_id"),
            F.max(F.when(F.col("same"), F.col("cos"))).alias("cos_pos"),
            F.max(F.when(~F.col("same"), F.col("cand"))).alias("neg_id"),
            F.max(F.when(~F.col("same"), F.col("cos"))).alias("cos_neg"),
        )
        .where(F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull())
        .select(
            "anchor", "pos_id", "cos_pos", "neg_id", "cos_neg",
            F.round(F.col("cos_pos") - F.col("cos_neg"), 6).alias("margin"),
        )
        .orderBy("anchor")
    )


def _triplet_oracle() -> str:
    bits = _bits_sql()
    return f"""
WITH bucketed AS (
  SELECT vec_id, label, embedding, CAST({bits} AS INT) AS bucket
  FROM embeddings
), cand AS (
  SELECT a.vec_id AS anchor, a.label AS a_label, b.vec_id AS cand,
         b.label AS c_label,
         ROUND({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), pos AS (
  SELECT anchor, cand AS pos_id, cos AS cos_pos,
         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cos DESC, cand) AS r
  FROM cand WHERE a_label = c_label QUALIFY r = 1
), neg AS (
  SELECT anchor, cand AS neg_id, cos AS cos_neg,
         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cos DESC, cand) AS r
  FROM cand WHERE a_label <> c_label QUALIFY r = 1
)
SELECT p.anchor, p.pos_id, p.cos_pos, n.neg_id, n.cos_neg,
       ROUND(p.cos_pos - n.cos_neg, 6) AS margin
FROM pos p JOIN neg n USING (anchor)
ORDER BY p.anchor
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_bruteforce_topk": q_ann_bruteforce,
    "ann_ivf_kmeans_topk": q_ann_ivf_kmeans_topk,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "t_triplet_mine": q_triplet_mine,
}

ORACLE_SQL: Dict[str, str] = {
    "ann_bruteforce_topk": _ANN_BRUTE_SQL,
    "dedup_embedding_cosine": _EMB_PAIRS_SQL,
    "t_triplet_mine": _triplet_oracle(),
}
