"""Filter distillation: train a cheap hashed Naive-Bayes quality classifier
on an expensive filter's own verdicts — the FineWeb/CCNet production move
(train a fast classifier on labels produced by a costly scorer, then run
only the cheap model over the crawl).  Here the teacher is the CCNet
perplexity bucketer (``operators/ccnet.py``): its ``head`` documents are
the positive class, ``tail`` the negative, and the student is a multinomial
NB over unigrams hashed into ``_NB_BUCKETS`` buckets — O(buckets) model
size no matter the vocabulary, the same hashing-trick contract as DSIR
(``operators/sampling.q_dsir_weights``).

Spark shape, audited for 100 TB:

* TRAINING is one explode + partial-agg shuffle over the BOUNDED labeled
  slice (fixed id range — the teacher never runs corpus-wide): per-bucket
  class counts in a single conditional aggregation, densified against the
  full ``range(_NB_BUCKETS)`` frame so out-of-training buckets score by
  the same smoothed rule in both engines;
* SCORING is the corpus-wide part: re-explode, equi-join the broadcast
  ≤1024-row log-ratio table, partial-agg per doc — the corpus never
  shuffles text, only (doc_id) partials;
* per-feature log-ratios and the class prior are integer-scaled (×1e4)
  before any sum, so reduction order cannot move the result and the DuckDB
  oracle is hash-exact.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.ccnet import _CCNET_SQL, q_ccnet_buckets
from tablestructurerec_spark.operators.textstats import _TOKENS_SQL, tokens_col

__all__ = ["q_quality_distill", "_DISTILL_SQL"]

_NB_BUCKETS = 1024
_NB_ALPHA = 0.5
_SCALE_NB = 10_000  # 1e-4 log10 resolution (the q_unigram_logprob discipline)
_TRAIN_MAX_ID = 131_072  # bounded teacher-labeled training slice


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def _hash_bucket(col) -> "F.Column":
    """Feature hashing: first 8 md5 hex chars → bucket (the DSIR trick)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % _NB_BUCKETS
    )


def _feats(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("f")
    ).select("doc_id", _hash_bucket(F.col("f")).alias("fb"))


def _fit_frames(
    spark: SparkSession, sf_dir: str, teacher: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """The fit: (≤_NB_BUCKETS-row ratio frame, 1-row prior frame).
    ``teacher`` lets a composing caller
    (``selection.q_selection_pipeline``) pass its OWN CCNet frame — the
    shared object gives both consumers identical expression IDs, the
    precondition for runtime exchange reuse of the CCNet aggregates
    (separate ``q_ccnet_buckets`` calls can never be deduped)."""
    docs = _t(spark, sf_dir, "documents")
    labels = (
        teacher if teacher is not None else q_ccnet_buckets(spark, sf_dir)
    ).where(
        (F.col("bucket").isin("head", "tail")) & (F.col("doc_id") < _TRAIN_MAX_ID)
    )
    train = labels.select("doc_id", (F.col("bucket") == "head").alias("pos"))
    counts = (
        _feats(docs).join(train, "doc_id")  # bounded labeled slice only
        .groupBy("fb")
        .agg(
            F.count(F.when(F.col("pos"), F.lit(1))).alias("pos_cnt"),
            F.count(F.when(~F.col("pos"), F.lit(1))).alias("neg_cnt"),
        )
    )
    # densify: every hash bucket gets a row so unseen buckets score by the
    # same smoothed rule (not silently dropped by the scoring join)
    full = (
        spark.range(_NB_BUCKETS)
        .select(F.col("id").cast("long").alias("fb"))
        .join(counts, "fb", "left")
        .select(
            "fb",
            F.coalesce(F.col("pos_cnt"), F.lit(0)).alias("pos_cnt"),
            F.coalesce(F.col("neg_cnt"), F.lit(0)).alias("neg_cnt"),
        )
    )
    a, ab = float(_NB_ALPHA), float(_NB_ALPHA * _NB_BUCKETS)
    totals = full.agg(
        F.sum("pos_cnt").alias("pt"), F.sum("neg_cnt").alias("nt")
    )
    ratio = (
        full.crossJoin(F.broadcast(totals))
        .select(
            "fb",
            F.round(
                (
                    F.log10((F.col("pos_cnt") + a) / (F.col("pt") + ab))
                    - F.log10((F.col("neg_cnt") + a) / (F.col("nt") + ab))
                )
                * _SCALE_NB
            )
            .cast("long")
            .alias("lr"),
        )
    )
    prior = (
        train.agg(
            F.count(F.when(F.col("pos"), F.lit(1))).alias("np"),
            F.count(F.when(~F.col("pos"), F.lit(1))).alias("nn"),
        )
        .select(
            F.round(
                (
                    F.log10((F.col("np") + a) / (F.col("np") + F.col("nn") + 2 * a))
                    - F.log10((F.col("nn") + a) / (F.col("np") + F.col("nn") + 2 * a))
                )
                * _SCALE_NB
            )
            .cast("long")
            .alias("prior")
        )
    )
    return ratio, prior


def q_quality_distill(
    spark: SparkSession, sf_dir: str, teacher: DataFrame | None = None
) -> DataFrame:
    """Per-document ``(doc_id, n_feats, nb_score, pred_head)``: the hashed-
    NB log-odds of being a CCNet ``head`` document (positive = head-like),
    and the binary verdict ``pred_head = log-odds > 0``.  ``teacher``
    forwards to :func:`_fit_frames` (composing callers share their CCNet
    frame for exchange reuse)."""
    docs = _t(spark, sf_dir, "documents")
    ratio, prior = _fit_frames(spark, sf_dir, teacher)
    per_doc = (
        _feats(docs)
        .join(F.broadcast(ratio), "fb")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_feats"), F.sum("lr").alias("s"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.round(
                (F.col("prior") + F.coalesce(F.col("s"), F.lit(0)))
                / float(_SCALE_NB),
                6,
            ).alias("nb_score"),
            ((F.col("prior") + F.coalesce(F.col("s"), F.lit(0))) > 0)
            .cast("int")
            .alias("pred_head"),
        )
        .orderBy("doc_id")
    )


_DISTILL_SQL = f"""
WITH teacher AS (
  SELECT doc_id, bucket FROM ({_CCNET_SQL})
), train AS (
  SELECT doc_id, bucket = 'head' AS pos
  FROM teacher
  WHERE bucket IN ('head', 'tail') AND doc_id < {_TRAIN_MAX_ID}
), feats AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {_NB_BUCKETS} AS fb
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS f FROM documents)
), counts AS (
  SELECT f.fb,
         count(CASE WHEN t.pos THEN 1 END) AS pos_cnt,
         count(CASE WHEN NOT t.pos THEN 1 END) AS neg_cnt
  FROM feats f JOIN train t USING (doc_id)
  GROUP BY f.fb
), dense AS (
  SELECT r.range AS fb,
         COALESCE(c.pos_cnt, 0) AS pos_cnt,
         COALESCE(c.neg_cnt, 0) AS neg_cnt
  FROM range({_NB_BUCKETS}) r LEFT JOIN counts c ON r.range = c.fb
), totals AS (
  SELECT SUM(pos_cnt) AS pt, SUM(neg_cnt) AS nt FROM dense
), ratio AS (
  SELECT fb,
         CAST(ROUND((log10((pos_cnt + {_NB_ALPHA}) / (t.pt + {_NB_ALPHA} * {_NB_BUCKETS}))
                   - log10((neg_cnt + {_NB_ALPHA}) / (t.nt + {_NB_ALPHA} * {_NB_BUCKETS})))
                   * {_SCALE_NB}) AS BIGINT) AS lr
  FROM dense, totals t
), prior AS (
  SELECT CAST(ROUND((log10((count(CASE WHEN pos THEN 1 END) + {_NB_ALPHA})
                           / (count(*) + 2 * {_NB_ALPHA}))
                   - log10((count(CASE WHEN NOT pos THEN 1 END) + {_NB_ALPHA})
                           / (count(*) + 2 * {_NB_ALPHA})))
                   * {_SCALE_NB}) AS BIGINT) AS prior
  FROM train
), per_doc AS (
  SELECT f.doc_id, CAST(count(*) AS INT) AS n_feats, sum(r.lr) AS s
  FROM feats f JOIN ratio r USING (fb)
  GROUP BY f.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_feats, 0) AS n_feats,
       ROUND((pr.prior + COALESCE(p.s, 0)) / {_SCALE_NB}.0, 6) AS nb_score,
       CAST(CASE WHEN pr.prior + COALESCE(p.s, 0) > 0 THEN 1 ELSE 0 END AS INT) AS pred_head
FROM documents d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
CROSS JOIN prior pr
ORDER BY d.doc_id
"""
