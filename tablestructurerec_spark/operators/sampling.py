"""Deterministic sampling / data-mixing operators over ``documents``.

The selection side of a training-data pipeline: once hygiene and dedup have
flagged what is *eligible*, these decide what is *used* —

* **Split labels** (``split_label_col``/``split_label_sql``) — content-stable
  train/val/test split from an md5 bucket of the document key (8/1/1).  Hash-based, not
  ``rand()``: re-running the pipeline (or re-running it on a grown corpus)
  never migrates a document across splits, which is what keeps eval sets
  uncontaminated across pipeline versions.  Single scan, zero shuffle.
* **Stratified sampling** (``t_stratified_sample``) — per-language keep
  rates applied via a salted md5 uniform.  Deterministic for the same
  reason; the keep decision is a pure function of (doc_id, lang) so any
  executor placement / retry produces the same sample.  Single scan.
* **Temperature mixing** (``t_domain_mix``) — multilingual temperature
  sampling (á la mBERT/XLM, T=2 ⇒ q_l ∝ p_l^(1/2)): per-language token
  shares p_l, re-weighted shares q_l, and the per-language sampling factor
  q_l/p_l a downstream sampler would apply.  One partial-agg shuffle to
  #langs rows; the total-token normalization runs post-agg over that tiny
  frame, so the single-partition window never sees corpus-sized data.

All pure Catalyst with DuckDB oracles over the same parquet.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .textstats import _TOKENS_SQL, tokens_col

__all__ = ["QUERIES", "ORACLE_SQL"]

_U32 = float(1 << 32)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def _hash_uniform(salt: str, key: Column) -> Column:
    """Deterministic uniform in [0, 1) from the first 8 md5 hex chars."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10)
    return h.cast("long") / F.lit(_U32)


def _hash_uniform_sql(salt: str, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" / {_U32}"
    )


# ---------------------------------------------------------------------------
# train/val/test split assignment
# ---------------------------------------------------------------------------
_SPLIT_SALT = "split:"
_N_BUCKETS = 10  # buckets 0-7 train, 8 val, 9 test


def split_bucket_col(key) -> Column:
    """The 0-9 split bucket of a key column — THE single definition; the
    leakage audit and the embedding pipeline import these helpers so they
    can never drift (review finding: the CASE had been copied in four
    places)."""
    return F.floor(_hash_uniform(_SPLIT_SALT, key) * _N_BUCKETS).cast("int")


def split_label_col(key) -> Column:
    bucket = split_bucket_col(key)
    return (
        F.when(bucket <= 7, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_label_sql(key: str) -> str:
    b = (
        f"CAST(floor({_hash_uniform_sql(_SPLIT_SALT, key)} * {_N_BUCKETS}) AS INT)"
    )
    return (
        f"CASE WHEN {b} <= 7 THEN 'train' WHEN {b} = 8 THEN 'val'"
        " ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# stratified sampling — per-language keep rates
# ---------------------------------------------------------------------------
_SAMPLE_SALT = "samp:"
_LANG_RATES = {"en": 0.9, "es": 0.6, "fr": 0.6, "de": 0.6, "zh": 0.4}
_DEFAULT_RATE = 0.5


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    u = _hash_uniform(_SAMPLE_SALT, F.col("doc_id"))
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in _LANG_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", "source", u.alias("u"), rate.alias("rate"))
        .where(F.col("u") < F.col("rate"))
        .select("doc_id", "lang", "source", F.round("u", 6).alias("sample_u"))
        .orderBy("doc_id")
    )


def _rate_sql() -> str:
    whens = " ".join(f"WHEN '{lang}' THEN {r}" for lang, r in _LANG_RATES.items())
    return f"CASE lang {whens} ELSE {_DEFAULT_RATE} END"


_STRATIFIED_SAMPLE_SQL = f"""
WITH b AS (
  SELECT doc_id, lang, source,
         {_hash_uniform_sql(_SAMPLE_SALT, 'doc_id')} AS u,
         {_rate_sql()} AS rate
  FROM documents
)
SELECT doc_id, lang, source, ROUND(u, 6) AS sample_u
FROM b WHERE u < rate
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# temperature mixing — q_l ∝ p_l^(1/T), T = 2
# ---------------------------------------------------------------------------
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _domain_mix(docs)


def _domain_mix(docs: DataFrame) -> DataFrame:
    """Temperature mix over any (lang, text, ...) frame, budgeted in regex
    tokens."""
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens_col(F.col("text")))).cast("long").alias("n_tokens"),
    )
    # post-agg frame has #langs rows: the unpartitioned window is safe
    w = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(w)
    q_raw = F.sqrt(p)
    q = q_raw / F.sum(q_raw).over(w)
    return per_lang.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(p, 6).alias("p_tokens"),
        F.round(q, 6).alias("q_temperature"),
        F.round(q / p, 6).alias("sampling_factor"),
    ).orderBy("lang")


_DOMAIN_MIX_SQL = f"""
WITH per_lang AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), shares AS (
  SELECT lang, n_docs, n_tokens,
         n_tokens * 1.0 / sum(n_tokens) OVER () AS p,
         sqrt(n_tokens * 1.0 / sum(n_tokens) OVER ()) AS q_raw
  FROM per_lang
)
SELECT lang, n_docs, n_tokens,
       ROUND(p, 6) AS p_tokens,
       ROUND(q_raw / sum(q_raw) OVER (), 6) AS q_temperature,
       ROUND(q_raw / sum(q_raw) OVER () / p, 6) AS sampling_factor
FROM shares
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# sequence packing — fixed token-budget bins per output shard
# ---------------------------------------------------------------------------
_PACK_BUDGET = 2048  # tokens per packed training sequence
_PACK_SHARDS = 8  # parallel unit; real pipelines pack per output file


def _pack_docs(docs: DataFrame) -> DataFrame:
    """Greedy first-fit-in-order sequence packing over any (doc_id, text,
    ...) frame: documents are laid into fixed ``_PACK_BUDGET``-token bins in
    doc_id order within their shard — the batch-construction step that
    turns a filtered corpus into constant-length training sequences with
    minimal padding.

    Packing is inherently sequential *within* an output shard (each doc's
    bin depends on every earlier fill decision) and embarrassingly parallel
    *across* shards — exactly the applyInPandas shape: shard = the group
    key, one Arrow batch per shard, a tight per-group loop.  At corpus scale
    the shard count scales with output files (thousands), so no group is
    ever corpus-sized; the shuffle is one partial pass carrying
    (doc_id, n_tokens), never text.  A doc longer than the budget gets a
    bin of its own (truncation is the tokenizer's job, not the packer's).
    Sizes are regex token counts."""
    import pandas as pd

    sized = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).cast("int").alias("shard"),
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, b, fill = [], 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > _PACK_BUDGET:
                b, fill = b + 1, 0
            bins.append(b)
            fill += n
        pdf["bin_idx"] = pd.Series(bins, dtype="int32")
        return pdf

    out = sized.groupBy("shard").applyInPandas(
        pack, "doc_id long, shard int, n_tokens int, bin_idx int"
    )
    return out.select("doc_id", "shard", "n_tokens", "bin_idx").orderBy("doc_id")


# ---------------------------------------------------------------------------
# end-to-end pipeline composition: filter → split → pack, one plan
# ---------------------------------------------------------------------------
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full selection pipeline as ONE composed Catalyst plan: corpus
    filter keeps a document, the content-stable split sends it to train,
    packing lays it into a token-budget bin.

    This is the integration face — it proves the operators compose without
    materialization barriers between stages.  Plan shape: the filter's one
    content-hash shuffle → doc_id join back to documents (both sides hash on
    doc_id) → the packer's shard shuffle carrying (doc_id, n_tokens) only.
    Three shuffles end-to-end for filter+split+pack of a corpus; nothing
    collects, nothing broadcasts an unbounded side.
    """
    from .hygiene import q_corpus_filter

    kept = (
        q_corpus_filter(spark, sf_dir)
        .where(F.col("decision") == "keep")
        .select("doc_id")
    )
    train = kept.where(split_label_col(F.col("doc_id")) == "train")
    docs = _t(spark, sf_dir, "documents").join(train, "doc_id")
    return _pack_docs(docs)


def _pipeline_e2e_sql() -> str:
    filt = _CORPUS_FILTER_SQL_REF()
    return f"""
WITH RECURSIVE filt AS (
{filt}
), tr AS (
  SELECT doc_id FROM filt
  WHERE decision = 'keep'
    AND {split_label_sql('doc_id')} = 'train'
), t AS (
  SELECT d.doc_id,
         CAST(d.doc_id % {_PACK_SHARDS} AS INT) AS shard,
         CAST(len({_TOKENS_SQL}) AS INT) AS n_tokens,
         row_number() OVER (PARTITION BY d.doc_id % {_PACK_SHARDS} ORDER BY d.doc_id) AS rn
  FROM documents d JOIN tr USING (doc_id)
), packed AS (
  SELECT shard, doc_id, n_tokens, rn, 0 AS bin_idx, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {_PACK_BUDGET}
              THEN p.bin_idx + 1 ELSE p.bin_idx END,
         CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {_PACK_BUDGET}
              THEN t.n_tokens ELSE p.fill + t.n_tokens END
  FROM t JOIN packed p ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens, CAST(bin_idx AS INT) AS bin_idx
FROM packed
ORDER BY doc_id
"""


def _CORPUS_FILTER_SQL_REF() -> str:
    from .hygiene import _CORPUS_FILTER_SQL

    return _CORPUS_FILTER_SQL.strip().rstrip(";")


# ---------------------------------------------------------------------------
# DSIR-style importance resampling weights (hashed n-gram importance weights)
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 2048
_DSIR_ALPHA = 0.5
_SCALE_DSIR = 10_000  # 1e-4 per-feature log10 resolution (same as _SCALE_LM)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, public
    method): estimate hashed-ngram bag-of-features multinomials for a
    TARGET domain (here: the ``lang='en'`` slice) and the RAW corpus, then
    weight every document by its log importance ratio
    ``Σ_f log p̂_target(bucket(f)) − log p̂_raw(bucket(f))`` over its
    unigram+bigram features hashed into ``_DSIR_BUCKETS`` buckets
    (additive ``_DSIR_ALPHA`` smoothing).  ``keep_target=true`` marks docs
    that look more target-like than corpus-average — the resampling set.

    Not registered on its own: a component of the ``t_selection_pipeline``
    driver row; hash-exact DuckDB parity is pinned by ``tests/test_dsir.py``.

    Determinism / 100 TB shape: per-feature log-ratios are integer-scaled
    (×``_SCALE_DSIR``) before the per-doc sum, so the reduction order can
    never move the result (the ``q_unigram_logprob`` discipline).  Pass 1
    is ONE explode + partial-agg shuffle producing the bounded (≤2048-row)
    bucket-count table — target and raw counts in the SAME aggregation
    (conditional count), so the corpus is not scanned twice for the two
    distributions; the totals window then runs over ≤2048 rows.  Pass 2
    re-explodes and equi-joins the broadcast ratio table (a fixed-size
    side) and partial-aggregates per doc — the corpus
    never shuffles whole-text rows, only (doc_id) key partials.
    """
    docs = _t(spark, sf_dir, "documents")
    from .hygiene import rep_bigrams_col

    toks = tokens_col(F.col("text"))
    staged = docs.select("doc_id", "lang", toks.alias("toks"))
    feats = staged.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(F.col("toks"), rep_bigrams_col(F.col("toks")))
        ).alias("f"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    counts = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("tgt_cnt"),
    )
    w = Window.partitionBy()  # post-agg frame is ≤ _DSIR_BUCKETS rows
    a, ab = float(_DSIR_ALPHA), float(_DSIR_ALPHA * _DSIR_BUCKETS)
    lr = (
        F.log10((F.col("tgt_cnt") + a) / (F.sum("tgt_cnt").over(w) + ab))
        - F.log10((F.col("raw_cnt") + a) / (F.sum("raw_cnt").over(w) + ab))
    )
    ratio = counts.select(
        "bucket", F.round(lr * _SCALE_DSIR).cast("long").alias("lr")
    )
    per_doc = (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_feats"),
            F.sum("lr").alias("s"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.round(
                F.coalesce(F.col("s"), F.lit(0)) / float(_SCALE_DSIR), 6
            ).alias("logw"),
            (F.coalesce(F.col("s"), F.lit(0)) > 0).alias("keep_target"),
        )
        .orderBy("doc_id")
    )


_DSIR_BIGRAMS_SQL = (
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"
)

_DSIR_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
), feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, unnest(toks || {_DSIR_BIGRAMS_SQL}) AS f FROM base)
), counts AS (
  SELECT bucket,
         count(*) AS raw_cnt,
         count(CASE WHEN lang = 'en' THEN 1 END) AS tgt_cnt
  FROM feats GROUP BY bucket
), totals AS (
  SELECT sum(raw_cnt) AS r_total, sum(tgt_cnt) AS t_total FROM counts
), ratio AS (
  SELECT bucket,
         CAST(ROUND((log10((tgt_cnt + {_DSIR_ALPHA}) / (t.t_total + {_DSIR_ALPHA} * {_DSIR_BUCKETS}))
                   - log10((raw_cnt + {_DSIR_ALPHA}) / (t.r_total + {_DSIR_ALPHA} * {_DSIR_BUCKETS})))
                   * {_SCALE_DSIR}) AS BIGINT) AS lr
  FROM counts, totals t
), per_doc AS (
  SELECT f.doc_id, CAST(count(*) AS INT) AS n_feats, sum(r.lr) AS s
  FROM feats f JOIN ratio r USING (bucket)
  GROUP BY f.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_feats, 0) AS n_feats,
       ROUND(COALESCE(p.s, 0) / {_SCALE_DSIR}.0, 6) AS logw,
       COALESCE(p.s, 0) > 0 AS keep_target
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_stratified_sample": q_stratified_sample,
    "t_domain_mix": q_domain_mix,
    "t_pipeline_e2e": q_pipeline_e2e,
}

ORACLE_SQL: Dict[str, str] = {
    "t_stratified_sample": _STRATIFIED_SAMPLE_SQL,
    "t_domain_mix": _DOMAIN_MIX_SQL,
    "t_pipeline_e2e": _pipeline_e2e_sql(),
}
