"""HyperLogLog distinct-count sketch — per-source vocabulary cardinality
with a FIXED 256-register summary and pure partial-aggregation merge.

Why a second DV sketch next to KMV (``operators/kmv.py``): the KMV sketch
relies on a ``dense_rank() <= k`` window whose pre-shuffle pruning is an
optimizer rewrite (InferWindowGroupLimit); HyperLogLog (Flajolet et al.
2007) needs nothing from the optimizer — its merge IS ``max`` per register,
so the whole sketch is two hash-aggregations with map-side combine:

* ``groupBy(source, register).agg(max(rho))`` — every map task forwards at
  most m=256 rows per source regardless of input size (partial aggregate,
  plan-pinned in tests); the shuffle carries O(partitions x m), never the
  vocabulary;
* ``groupBy(source)`` folds the ≤256 registers into the estimate.

This is the sketch shape that survives 10^12 rows: registers are integers,
the merge is commutative/associative/idempotent (max), and re-sketching an
ingest increment merges with the stored registers by the same ``max``.

All-integer estimator, so the DuckDB twin is VALUE-EXACT (house rule —
floats never cross an engine boundary):

* 52-bit md5-derived hash (13 hex chars, as in kmv.py): top 8 bits pick the
  register, low W=44 bits feed ``rho`` = leading-zero count + 1, computed as
  ``45 - length(bin(w))`` — ``bin()`` prints without leading zeros in BOTH
  Spark and DuckDB, so bit-length is a string length, no float log2;
* the harmonic sum is scaled by 2^45: ``Z = sum(shiftleft(1, 45 - rho)) +
  V * 2^45`` (V = empty registers) — exact integers, any reduction order;
* raw estimate ``alpha_m * m^2 * 2^45 / Z`` runs as ``(2^61 DIV Z)`` then an
  overflow-branched integer multiply by ALPHA_S/10^6;
* the small-range linear-counting branch (E <= 2.5m and V > 0) indexes a
  256-entry literal table ``round(m * ln(m/V))`` — generated ONCE in Python
  and embedded in BOTH engines' expressions, the refit-literal pattern used
  for the k-means and BPE-train oracles.

Relative standard error ~ 1.04/sqrt(m) = 6.5% at m=256.  The 2^32
large-range correction of the original paper is unnecessary in a 2^52 hash
space at any realistic cardinality.

Returns one row per source: ``(source, v_zero, z_scaled, est_distinct)``.
A component of the ``t_sketch_audit`` driver row, not registered on its
own, with a pytest DuckDB-parity oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.textstats import tokens_col, tokens_sql

__all__ = [
    "q_distinct_hll",
    "distinct_hll",
    "hll_sql",
    "P_BITS",
    "M_REGS",
    "W_BITS",
    "ALPHA_S",
    "LC_TABLE",
]

P_BITS = 8
M_REGS = 1 << P_BITS  # 256 registers
W_BITS = 52 - P_BITS  # 44 bits feed the leading-zero count
K_SCALE = W_BITS + 1  # harmonic terms scaled by 2^45 (rho in [1, 45])
REG_DIV = 1 << W_BITS  # hv DIV 2^44 = register index
# alpha_256 = 0.7213 / (1 + 1.079/256), integer-scaled by 1e6.
ALPHA_S = round(0.7213 / (1 + 1.079 / M_REGS) * 1_000_000)
# Linear-counting literals: LC_TABLE[V-1] = round(m * ln(m / V)), V = 1..m.
LC_TABLE = [round(M_REGS * math.log(M_REGS / v)) for v in range(1, M_REGS + 1)]
# m^2 * 2^45 = 2^61; DIV Z never overflows (Z >= m).
_NUMER = M_REGS * M_REGS * (1 << K_SCALE)
# Branch threshold for the alpha multiply: quot <= 2^42 -> multiply first
# (2^42 * 1e6 < 2^62); else divide first (quot DIV 1e6 <= 2^33).
_MUL_FIRST_MAX = 1 << 42
_LC_LIMIT = 5 * M_REGS // 2  # apply linear counting when est <= 2.5m


def _est_expr(v_zero: str, z_scaled: str) -> str:
    """Shared estimator text — identical SQL for Spark and DuckDB except the
    integer-division spelling, injected by the caller via format."""
    lc = ",".join(str(x) for x in LC_TABLE)
    return (
        f"CASE WHEN {v_zero} > 0 AND est_raw <= {_LC_LIMIT} "
        f"THEN element_at(array({lc}), {v_zero}) "
        f"ELSE est_raw END"
    )


def q_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token estimate from a 256-register HLL sketch."""
    from tablestructurerec_spark.sources.read import read_table

    return distinct_hll(read_table(spark, sf_dir, "documents"))


def distinct_hll(docs: DataFrame) -> DataFrame:
    """Sketch + estimate over an arbitrary ``(source, text)`` frame."""
    toks = docs.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select(
        "source",
        F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("long").alias("hv"),
    )
    regs = toks.select(
        "source",
        F.shiftright(F.col("hv"), W_BITS).alias("reg"),
        (F.col("hv") % F.lit(REG_DIV)).alias("w"),
    ).select(
        "source",
        "reg",
        # rho = leading zeros of the 44-bit word + 1 = 45 - bit_length(w).
        F.expr(
            f"CASE WHEN w = 0 THEN {K_SCALE} "
            f"ELSE {K_SCALE} - length(bin(w)) END"
        ).alias("rho"),
    )
    # Merge = max per register: partial aggregate caps every map task's
    # shuffle contribution at m rows per source.
    sketch = regs.groupBy("source", "reg").agg(F.max("rho").alias("rho"))
    folded = sketch.groupBy("source").agg(
        (F.lit(M_REGS) - F.count("reg")).cast("int").alias("v_zero"),
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {K_SCALE} - rho)"))
            + (F.lit(M_REGS) - F.count("reg")) * F.lit(1 << K_SCALE)
        ).cast("long").alias("z_scaled"),
    )
    est_raw = (
        f"CASE WHEN {_NUMER} DIV z_scaled <= {_MUL_FIRST_MAX} "
        f"THEN ({_NUMER} DIV z_scaled) * {ALPHA_S} DIV 1000000 "
        f"ELSE (({_NUMER} DIV z_scaled) DIV 1000000) * {ALPHA_S} END"
    )
    return (
        folded.withColumn("est_raw", F.expr(est_raw).cast("long"))
        .withColumn("est_distinct", F.expr(_est_expr("v_zero", "z_scaled")).cast("long"))
        .select("source", "v_zero", "z_scaled", "est_distinct")
        .orderBy("source")
    )


def hll_sql() -> str:
    """DuckDB twin of :func:`q_distinct_hll` — value-exact."""
    lc = ",".join(str(x) for x in LC_TABLE)
    return f"""
WITH toks AS (
  SELECT source, ('0x' || substr(md5(tok), 1, 13))::BIGINT AS hv
  FROM (SELECT source, unnest({tokens_sql()}) AS tok FROM documents)
), regs AS (
  SELECT source,
         hv // {REG_DIV} AS reg,
         CASE WHEN hv % {REG_DIV} = 0 THEN {K_SCALE}
              ELSE {K_SCALE} - length(bin(hv % {REG_DIV})) END AS rho
  FROM toks
), sketch AS (
  SELECT source, reg, max(rho) AS rho FROM regs GROUP BY source, reg
), folded AS (
  SELECT source,
         CAST({M_REGS} - count(reg) AS INTEGER) AS v_zero,
         CAST(sum((1::BIGINT) << ({K_SCALE} - rho))
              + ({M_REGS} - count(reg)) * {1 << K_SCALE} AS BIGINT) AS z_scaled
  FROM sketch GROUP BY source
), est AS (
  SELECT source, v_zero, z_scaled,
         CASE WHEN {_NUMER} // z_scaled <= {_MUL_FIRST_MAX}
              THEN ({_NUMER} // z_scaled) * {ALPHA_S} // 1000000
              ELSE (({_NUMER} // z_scaled) // 1000000) * {ALPHA_S} END AS est_raw
  FROM folded
)
SELECT source, v_zero, z_scaled,
       CAST(CASE WHEN v_zero > 0 AND est_raw <= {_LC_LIMIT}
                 THEN [{lc}][v_zero]
                 ELSE est_raw END AS BIGINT) AS est_distinct
FROM est
ORDER BY source
"""
