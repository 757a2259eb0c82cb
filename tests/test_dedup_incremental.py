"""Incremental dedup (new batch vs persisted corpus index).

Pins (a) the inline query's single-shuffle shape, (b) the DEPLOYED shape —
index persisted bucketed by the band key → the 100 TB side joins with zero
Exchange, only the increment shuffles — and (c) value equality between the
two faces.
"""

import pytest
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.dedup import (
    _INCR_MOD,
    _INCR_REM,
    _banded_docs,
    _hv_docs,
    q_dedup_incremental,
)
from tablestructurerec_spark.plans.bucketing import write_bucketed

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_inline_query_does_one_signature_pass(spark, no_broadcast):
    df = q_dedup_incremental(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    final = _plan(df).split("== Initial Plan ==")[0]
    # the pre-banding split means each side scans (and signs) only its own
    # subset: exactly two document scans, one signature pass of work total
    assert final.count("documents.parquet") == 2, final
    # a crawl increment is unbounded — never a forced broadcast
    assert "BroadcastExchange" not in final, final


def test_persisted_index_side_never_shuffles(spark, no_broadcast, tmp_path):
    banded = _banded_docs(_hv_docs(spark, SF_DIR))
    is_new = (F.col("doc_id") % _INCR_MOD) == _INCR_REM
    write_bucketed(
        banded.where(~is_new), "tsr_test_incr_idx", ["band", "bucket"], n_buckets=8
    )
    # control: the same index as a PLAIN parquet table (no bucket metadata)
    banded.where(~is_new).write.mode("overwrite").parquet(str(tmp_path / "plain"))

    def join_against(idx):
        return (
            banded.where(is_new).alias("n")
            .join(
                idx.alias("i"),
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.bucket") == F.col("i.bucket")),
            )
            .select(
                F.col("n.doc_id").alias("new_doc"), F.col("i.doc_id").alias("dup_of")
            )
            .distinct()
        )

    bucketed = join_against(spark.table("tsr_test_incr_idx"))
    plain = join_against(spark.read.parquet(str(tmp_path / "plain")))
    n_bkt = _plan(bucketed).count("Exchange hashpartitioning")
    n_plain = _plan(plain).count("Exchange hashpartitioning")
    # the bucketed scan satisfies the join's distribution requirement on the
    # corpus side: exactly one fewer shuffle than the plain layout — the
    # 100 TB side is never re-shuffled, only the increment is
    assert n_bkt == n_plain - 1, (n_bkt, n_plain)
    # value equality with the inline single-shuffle face
    inline = q_dedup_incremental(spark, SF_DIR).collect()
    got = sorted(bucketed.collect(), key=lambda r: (r.new_doc, r.dup_of))
    assert [(r.new_doc, r.dup_of) for r in got] == [
        (r.new_doc, r.dup_of) for r in inline
    ]


def test_new_docs_only_match_index_docs(spark):
    rows = q_dedup_incremental(spark, SF_DIR).collect()
    assert rows, "synthetic corpus should contain cross-split near-dups"
    for r in rows:
        assert r.new_doc % _INCR_MOD == _INCR_REM
        assert r.dup_of % _INCR_MOD != _INCR_REM
