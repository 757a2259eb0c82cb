"""k-anonymity audit — the privacy gate a training-data pipeline runs
before releasing (or training on) user-derived records: any combination of
quasi-identifiers shared by fewer than k individuals re-identifies them
(Sweeney 2002).  PII scrubbing (``hygiene.q_pii_scrub``) removes DIRECT
identifiers; this operator measures the indirect ones.

Quasi-identifier tuple here: ``(c_nationkey, c_mktsegment, acctbal
bucketed to 1000s)`` over the ``customer`` table — the classic
(location, demographic, numeric-attribute) shape.  The bucketing is the
generalization step: raw ``c_acctbal`` is near-unique, its 1000-bucket is
not; the audit quantifies how much anonymity the generalization bought.

Output: one row per equivalence class — ``(c_nationkey, c_mktsegment,
bal_bucket, class_size, at_risk)`` with ``at_risk = class_size < k`` —
plus deterministic ordering for the oracle.  Downstream policy is then a
semi-join: drop or further-generalize the at-risk classes.

Spark shape, audited for 100 TB: ONE groupBy shuffle with map-side
combine onto the equivalence-class frame (bounded by the quasi-id
cross-product, not the row count).  The bucket floor-division is integer
→ the operator is reduction-order-free and carries a full value-exact
DuckDB oracle; the ``t_ops_audit`` driver row composes it.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["q_k_anonymity", "_KANON_SQL", "K_THRESHOLD", "BAL_BUCKET"]

K_THRESHOLD = 5
BAL_BUCKET = 1000


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence-class sizes over the quasi-identifier tuple."""
    from tablestructurerec_spark.sources.read import read_table

    cust = read_table(spark, sf_dir, "customer")
    # floor toward -inf so negative balances bucket consistently in both
    # engines (SQL integer division truncates toward zero — avoid it)
    bal_bucket = F.floor(F.col("c_acctbal") / BAL_BUCKET).cast("long")
    return (
        cust.select(
            "c_nationkey", "c_mktsegment", bal_bucket.alias("bal_bucket")
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .withColumn("at_risk", F.col("class_size") < K_THRESHOLD)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )


_KANON_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(floor(c_acctbal / {BAL_BUCKET}) AS BIGINT) AS bal_bucket,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < {K_THRESHOLD} AS at_risk
FROM customer
GROUP BY 1, 2, 3
ORDER BY c_nationkey, c_mktsegment, bal_bucket
"""
