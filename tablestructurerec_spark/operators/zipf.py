"""Corpus vocabulary diagnostics: top-term table, cumulative coverage, and
a Zipf-law slope fit — the corpus health report a pretraining pipeline
prints before anyone trains on the data (vocabulary collapse, boilerplate
domination, and crawler loops all show up here first: a natural-language
corpus fits log(freq) ≈ −1·log(rank); heavy repetition drags the slope
toward 0 at the head, template spam steepens it).

Spark shape, audited for 100 TB:

* one explode → groupBy shuffle with map-side combine builds (term, cnt);
  the corpus total rides the same aggregation, no second scan of text;
* the ranked head is ``orderBy(...).limit(top_n)`` — TakeOrdered (per-
  partition top-N, then a driver-side merge of N·partitions rows), never a
  global sort; every window/cumsum below runs on the N-row head only;
* the slope is least-squares over (log10 rank, log10 cnt) with each log
  INTEGER-SCALED (1e-6 resolution) before summing, so Σx, Σy, Σxy, Σx² are
  exact BIGINTs — summation order cannot perturb the fit, which is what
  makes the DuckDB oracle hash-exact (a float regr_slope would differ in
  the last ulps between engines).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.textstats import _TOKENS_SQL, tokens_col

__all__ = ["q_zipf_stats", "_ZIPF_SQL"]

_TOP_N = 50
_LOG_SCALE = 1_000_000  # 1e-6 log10 resolution; products stay << 2^63


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def q_zipf_stats(spark: SparkSession, sf_dir: str, top_n: int = _TOP_N) -> DataFrame:
    """Top-``top_n`` vocabulary rows ``(rank, term, cnt, frac, cum_coverage,
    zipf_slope)`` — ``zipf_slope`` (repeated on every row, like
    ``table_md5`` in bpe_train) is the least-squares slope of log10(cnt)
    against log10(rank) over the head."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = vocab.agg(F.sum("cnt").alias("total"))
    head = (
        vocab.orderBy(F.desc("cnt"), F.asc("term"))
        .limit(top_n)
        .crossJoin(F.broadcast(total))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = head.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "term",
        "cnt",
        "total",
    ).select(
        "rank",
        "term",
        "cnt",
        "total",
        F.round(F.log10(F.col("rank").cast("double")) * _LOG_SCALE)
        .cast("long")
        .alias("lx"),
        F.round(F.log10(F.col("cnt").cast("double")) * _LOG_SCALE)
        .cast("long")
        .alias("ly"),
    )
    fit = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    ).select(
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope")
    )
    wcum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ranked.select(
            "rank",
            "term",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("frac"),
            F.round(F.sum("cnt").over(wcum) / F.col("total"), 6).alias(
                "cum_coverage"
            ),
        )
        .crossJoin(F.broadcast(fit))
        .orderBy("rank")
    )


_ZIPF_SQL = f"""
WITH vocab AS (
  SELECT term, COUNT(*) AS cnt
  FROM (SELECT unnest({_TOKENS_SQL}) AS term FROM documents)
  GROUP BY term
), total AS (
  SELECT SUM(cnt) AS total FROM vocab
), head AS (
  SELECT term, cnt FROM vocab ORDER BY cnt DESC, term ASC LIMIT {_TOP_N}
), ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS INT) AS rank,
         term, cnt
  FROM head
), scaled AS (
  SELECT rank, term, cnt,
         CAST(ROUND(log10(CAST(rank AS DOUBLE)) * {_LOG_SCALE}) AS BIGINT) AS lx,
         CAST(ROUND(log10(CAST(cnt AS DOUBLE)) * {_LOG_SCALE}) AS BIGINT) AS ly
  FROM ranked
), fit AS (
  SELECT ROUND(
           (COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly)) * 1.0
           / (COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx)), 6) AS zipf_slope
  FROM scaled
)
SELECT s.rank, s.term, s.cnt,
       ROUND(s.cnt * 1.0 / t.total, 6) AS frac,
       ROUND(SUM(s.cnt) OVER (ORDER BY s.rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / t.total, 6)
         AS cum_coverage,
       f.zipf_slope
FROM scaled s CROSS JOIN total t CROSS JOIN fit f
ORDER BY s.rank
"""
