"""CCNet-style language-model quality bucketing (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl Data",
LREC).  The canonical pretraining-corpus filter: score every document by
its perplexity under a language model trained on a CLEAN TARGET slice
(CCNet uses Wikipedia; here the ``lang='en'`` documents in a bounded id
range stand in as the fixed reference corpus), then split each language
into ``head`` / ``middle`` / ``tail`` tertiles — head = closest to the
target distribution, tail = farthest (boilerplate, spam, wrong-language).

Differences from :func:`operators.retrieval.q_unigram_logprob` (the
corpus-LM proxy): the LM here is trained on a *target slice*, not the
scored corpus itself, so out-of-vocabulary tokens exist and are add-α
smoothed; and the output is the CCNet head/middle/tail verdict, not a raw
score.

Spark shape, audited for 100 TB:

* the LM is built from a BOUNDED slice (fixed id range — the same bounding
  rule as ``similarity._KMEANS_SAMPLE_MAX_ID``): its vocabulary is
  O(slice), joined to the corpus term frame as the small side (AQE
  broadcasts it; the corpus side never shuffles for the join);
* per-doc aggregation: explode → (doc_id, term) partial counts → one
  shuffle on doc_id with map-side combine (tokens of a doc are co-located
  off the scan, so partials collapse before the exchange);
* tertile THRESHOLDS come from a bounded sample (CCNet itself fits
  percentile cut-offs once, then streams assignment): the per-language
  sort happens only on the sample, the full corpus gets a broadcast join
  + comparison — no corpus-wide sort, no per-language single-task funnel;
* per-token log-probabilities are integer-scaled (1e-4 log10 resolution,
  same contract as ``retrieval._SCALE_LM``) so doc sums are exact integers
  and the DuckDB oracle is hash-exact.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.textstats import _TOKENS_SQL, tokens_col

__all__ = ["q_ccnet_buckets", "_CCNET_SQL"]

_SCALE = 10_000  # 1e-4 per-token log10 resolution (= retrieval._SCALE_LM)
_ALPHA = 0.5  # add-α smoothing; OOV mass = α / (total + α·(V+1))
_TARGET_LANG = "en"
_LM_MAX_ID = 131_072  # bounded LM training slice (fixed id range)
_THR_MAX_ID = 131_072  # bounded threshold-fitting sample
_NO_TOKENS_PPL = -1.0  # sentinel for zero-token docs (CCNet drops them;
# the engine keeps every row and routes them to 'tail')


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ``(doc_id, lang, n_tokens, ppl, bucket)``.

    ``ppl`` is the average negative log10 probability per token under the
    add-α-smoothed target-slice unigram LM (lower = closer to the target);
    ``bucket`` is the CCNet verdict — per-language tertiles of ``ppl``
    fitted on the bounded sample (``head`` ≤ t1 < ``middle`` ≤ t2 <
    ``tail``, boundary ties take the better bucket in both engines).
    """
    docs = _t(spark, sf_dir, "documents")

    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = (
        docs.where(
            (F.col("lang") == _TARGET_LANG) & (F.col("doc_id") < _LM_MAX_ID)
        )
        .select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = vocab.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
    )
    # smoothed per-token log10 prob, integer-scaled: OOV terms take cnt=0
    lp = F.round(
        F.log10(
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(_ALPHA))
            / (F.col("total") + F.lit(_ALPHA) * (F.col("v") + 1))
        )
        * _SCALE
    ).cast("long")
    per_doc = (
        tf.join(vocab, "term", "left")  # vocab is the bounded small side
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tf", (F.col("tf") * lp).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_tok"), F.sum("c").alias("csum"))
    )
    scored = docs.select("doc_id", "lang").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce(F.col("n_tok"), F.lit(0)).cast("int").alias("n_tokens"),
        F.when(
            F.coalesce(F.col("n_tok"), F.lit(0)) > 0,
            F.round(-F.col("csum") / (float(_SCALE) * F.col("n_tok")), 6),
        )
        .otherwise(F.lit(_NO_TOKENS_PPL))
        .alias("ppl"),
    )
    sample = scored.where(
        (F.col("n_tokens") > 0) & (F.col("doc_id") < _THR_MAX_ID)
    )
    w = Window.partitionBy("lang").orderBy(F.asc("ppl"), F.asc("doc_id"))
    wall = Window.partitionBy("lang")
    ranked = sample.select(
        "lang",
        "ppl",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    thr = (
        ranked.where(
            (F.col("rn") == F.ceil(F.col("n") / F.lit(3.0)))
            | (F.col("rn") == F.ceil(F.col("n") * 2 / F.lit(3.0)))
        )
        .groupBy("lang")
        .agg(
            F.max(
                F.when(F.col("rn") == F.ceil(F.col("n") / F.lit(3.0)), F.col("ppl"))
            ).alias("t1"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") * 2 / F.lit(3.0)), F.col("ppl")
                )
            ).alias("t2"),
        )
    )
    return (
        scored.join(F.broadcast(thr), "lang", "left")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "ppl",
            F.when(F.col("n_tokens") == 0, F.lit("tail"))
            .when(F.col("ppl") <= F.col("t1"), F.lit("head"))
            .when(F.col("ppl") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


_CCNET_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents)
  GROUP BY doc_id, term
), vocab AS (
  SELECT term, COUNT(*) AS cnt
  FROM (SELECT unnest({_TOKENS_SQL}) AS term FROM documents
        WHERE lang = '{_TARGET_LANG}' AND doc_id < {_LM_MAX_ID})
  GROUP BY term
), stats AS (
  SELECT SUM(cnt) AS total, COUNT(*) AS v FROM vocab
), per_doc AS (
  SELECT tf.doc_id,
         SUM(tf.tf) AS n_tok,
         SUM(tf.tf * CAST(ROUND(log10(
           (COALESCE(v.cnt, 0) + {_ALPHA}) / (s.total + {_ALPHA} * (s.v + 1))
         ) * {_SCALE}) AS BIGINT)) AS csum
  FROM tf LEFT JOIN vocab v USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
), scored AS (
  SELECT d.doc_id, d.lang,
         CAST(COALESCE(p.n_tok, 0) AS INT) AS n_tokens,
         CASE WHEN COALESCE(p.n_tok, 0) > 0
              THEN ROUND(-p.csum / ({_SCALE}.0 * p.n_tok), 6)
              ELSE {_NO_TOKENS_PPL} END AS ppl
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
), ranked AS (
  SELECT lang, ppl,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ppl ASC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM scored WHERE n_tokens > 0 AND doc_id < {_THR_MAX_ID}
), thr AS (
  SELECT lang,
         MAX(CASE WHEN rn = CAST(CEIL(n / 3.0) AS BIGINT) THEN ppl END) AS t1,
         MAX(CASE WHEN rn = CAST(CEIL(n * 2 / 3.0) AS BIGINT) THEN ppl END) AS t2
  FROM ranked
  WHERE rn = CAST(CEIL(n / 3.0) AS BIGINT) OR rn = CAST(CEIL(n * 2 / 3.0) AS BIGINT)
  GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_tokens, s.ppl,
       CASE WHEN s.n_tokens = 0 THEN 'tail'
            WHEN s.ppl <= t.t1 THEN 'head'
            WHEN s.ppl <= t.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s LEFT JOIN thr t USING (lang)
ORDER BY s.doc_id
"""
