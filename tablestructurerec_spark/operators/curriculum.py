"""Curriculum ordering — a DENSE GLOBAL training-order index (easy→hard:
shortest documents first, content-stable tie-break) plus contiguous
curriculum shards, computed WITHOUT the naive plan's scale-killer.

The naive SQL — ``row_number() OVER (ORDER BY n_chars, doc_id)`` — funnels
the entire corpus through ONE task (Exchange SinglePartition) at 100 TB.
This operator produces byte-identical values with the classic distributed
dense-rank decomposition:

1. **range-bucket** every row by sort key, thresholds fitted as exact
   quantiles of a bounded deterministic md5 doc sample (the ccnet/adaptive
   pattern: bounded driver collect, broadcast back).  Buckets only shape
   PARALLELISM — the output is invariant to thresholds because any
   monotone bucketing of the sort key preserves the total order.
2. **bucket counts → cumulative offsets**: a ≤n_buckets-row frame (the
   one legitimate single-partition window), broadcast-joined back.
3. **within-bucket row_number** partitioned by bucket — every bucket
   ranks in parallel; ``order_idx = offset + rn - 1``.

Plan-pinned in tests: the full-data window is ``windowspecdefinition(
bucket, ...)``, never an empty partition spec.  Shards are contiguous
curriculum slices (``order_idx DIV shard_size``) so shard k is strictly
easier than shard k+1 — the property a curriculum loader needs.

Carries a full value-exact DuckDB oracle (a component of the
``t_selection_pipeline`` driver row, not registered on its own): the
oracle IS the naive global window — the test
asserts the scale-shaped plan reproduces it exactly.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["q_curriculum_order", "_CURRICULUM_SQL", "SHARD_SIZE"]

SHARD_SIZE = 1000
N_BUCKETS = 16
SAMPLE_PCT = 20  # threshold-fit sample: md5(doc_id) % 100 < 20


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, n_chars, order_idx, shard)`` — dense global easy→hard
    order, order_idx ∈ [0, N)."""
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    # 1. bounded-sample exact quantile thresholds (driver collect is
    #    ≤ N_BUCKETS-1 scalars — small-metadata, like lineage reads)
    sample = docs.where(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        % 100
        < SAMPLE_PCT
    )
    probs = [i / N_BUCKETS for i in range(1, N_BUCKETS)]
    row = sample.select(
        F.percentile_approx("n_chars", probs, 10_000).alias("t")
    ).collect()
    thresholds = sorted(set(row[0]["t"] or []))

    # 2. monotone range-bucket of the PRIMARY sort key (ties share buckets)
    bucket = F.lit(0)
    for t in thresholds:
        bucket = bucket + (F.col("n_chars") > F.lit(int(t))).cast("int")
    bucketed = docs.withColumn("bucket", bucket)

    # 3. tiny offsets frame: cumulative count of strictly-lower buckets
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("offset")
    )

    # 4. parallel within-bucket rank + offset
    rn = F.row_number().over(
        Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    )
    return (
        bucketed.join(F.broadcast(offsets), "bucket")
        .withColumn("order_idx", (F.col("offset") + rn - 1).cast("long"))
        .select(
            "doc_id",
            "n_chars",
            "order_idx",
            F.expr(f"order_idx DIV {SHARD_SIZE}").alias("shard"),
        )
        .orderBy("doc_id")
    )


_CURRICULUM_SQL = f"""
WITH ordered AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS order_idx
  FROM documents
)
SELECT doc_id, n_chars, CAST(order_idx AS BIGINT) AS order_idx,
       order_idx // {SHARD_SIZE} AS shard
FROM ordered
ORDER BY doc_id
"""
