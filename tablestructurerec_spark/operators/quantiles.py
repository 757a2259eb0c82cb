"""EXACT distributed quantiles by histogram refinement — no per-group sort,
no per-group value buffering, a constant number of cheap scans.

Spark's exact ``percentile`` buffers every value of a group in one
aggregation buffer — fine for bounded groups, melts on a 10^11-row group —
while ``approx_percentile`` (t-digest) is bounded but NOT exact, so it can
never carry a value-equality oracle.  :func:`refine_quantiles` is BOTH:
exact answers with bounded memory, via the classic iterative histogram
bisection (the BigQuery/Hive "exact median at scale" shape; Munro-Paterson
style multi-pass selection):

* pass 0: per-source ``(count, min, max)`` — one partial-agg scan;
* each refinement pass splits every still-active ``(source, prob)`` target's
  candidate range into 256 equal integer buckets and counts values per
  bucket in ONE scan shared by ALL targets: the tiny target table (source,
  lo, hi, width) is broadcast, the scan side never shuffles rows — only
  ≤ |targets| x 256 partial-agg counts; the driver walks the cumulative
  histogram, descends into the bucket holding the k-th rank, and rescales
  the remaining rank;
* ranges shrink by 256x per pass: ceil(log_256(value_range)) passes total
  (3 passes covers a 16M-wide range), independent of row count.  Heavy tie
  mass is free — a bucket that collapses to a single value answers
  immediately, no second-pass materialization of the tie group.

Rank convention is all-integer (house rule — no float crosses an engine
boundary): the p = num/den quantile is the ``k = max(1, ceil(num*n/den))``-th
smallest value, computed as ``(num*n + den - 1) DIV den``.

Driver-coordinated iteration follows the k-means / BPE-train precedent.
The skew audit (``operators/skewaudit.py``) runs it over per-key row counts.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["refine_quantiles", "N_BUCKETS"]

N_BUCKETS = 256
_MAX_PASSES = 9  # 256^9 covers any BIGINT range; the loop converges long before


def refine_quantiles(
    spark: SparkSession,
    vals: DataFrame,
    probs: List[Tuple[int, int, str]],
) -> Tuple[List[dict], int]:
    """The histogram-refinement kernel over any ``(source, v)`` frame.
    Returns (resolved targets, pass count); each target dict
    carries source/label/n and the exact value in ``lo``.

    NULL handling (review-hardened): NULL values are excluded from both the
    rank count and the histogram — counting them in ``n`` while min/max and
    the buckets ignore them would let k exceed the in-range row count and
    the loop would silently emit the minimum.  Rows with a NULL group key
    are dropped too: groupBy would create their target but the broadcast
    equi-join drops null keys, so that target could never narrow (driver
    KeyError).  Callers wanting null groups must label them explicitly."""
    vals = vals.where(F.col("source").isNotNull() & F.col("v").isNotNull())
    stats = (
        vals.groupBy("source")
        .agg(F.count("v").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    targets = []
    for r in stats:
        for num, den, label in probs:
            targets.append(
                {
                    "tid": len(targets),
                    "source": r["source"],
                    "label": label,
                    "n": r["n"],
                    "k": max(1, (num * r["n"] + den - 1) // den),
                    "lo": r["lo"],
                    "hi": r["hi"],
                }
            )

    n_passes = 0
    while True:
        active = [t for t in targets if t["lo"] < t["hi"]]
        if not active or n_passes >= _MAX_PASSES:
            break
        n_passes += 1
        rows = []
        for t in active:
            rng = t["hi"] - t["lo"] + 1
            width = (rng + N_BUCKETS - 1) // N_BUCKETS
            t["width"] = width
            rows.append((t["tid"], t["source"], t["lo"], t["hi"], width))
        tdf = spark.createDataFrame(
            rows, "tid INT, source STRING, lo BIGINT, hi BIGINT, width BIGINT"
        )
        counts = (
            vals.join(F.broadcast(tdf), "source")
            .where((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
            .groupBy("tid", F.expr("(v - lo) DIV width").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        by_tid: Dict[int, List[Tuple[int, int]]] = {}
        for row in counts:
            by_tid.setdefault(row["tid"], []).append((row["b"], row["c"]))
        for t in active:
            cum = 0
            for b, c in sorted(by_tid[t["tid"]]):
                if cum + c >= t["k"]:
                    t["k"] -= cum
                    new_lo = t["lo"] + b * t["width"]
                    t["hi"] = min(t["hi"], new_lo + t["width"] - 1)
                    t["lo"] = new_lo
                    break
                cum += c

    return targets, n_passes
