"""Distribution drift (drift.q_distribution_drift) — python ground truth on
hand-built day mixes (identical → 0, disjoint → 2e6, known shift), missing-
category handling, and DuckDB value parity of the join-free fan-out vs the
naive full-outer oracle (a component of the ``t_ops_audit`` driver row, not
registered on its own).
"""

import datetime
import os
from fractions import Fraction

import duckdb

from tablestructurerec_spark.operators.drift import (
    distribution_drift,
    drift_sql,
    q_distribution_drift,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _events(spark, day_mixes):
    """day_mixes: list of dict event_type -> count, one per consecutive day."""
    rows = []
    for d, mix in enumerate(day_mixes):
        ts = datetime.datetime(2024, 1, 1 + d, 12, 0, 0)
        for et, n in mix.items():
            for i in range(n):
                rows.append((len(rows), ts, et))
    return spark.createDataFrame(
        rows, "event_id BIGINT, ts TIMESTAMP_NTZ, event_type STRING"
    )


def _truth_ppm(m1, m2):
    n1, n2 = sum(m1.values()), sum(m2.values())
    ets = set(m1) | set(m2)
    num = sum(abs(m1.get(e, 0) * n2 - m2.get(e, 0) * n1) for e in ets)
    return int(Fraction(num * 1_000_000, n1 * n2))


def test_identical_mix_is_zero(spark):
    mixes = [{"a": 30, "b": 10}, {"a": 60, "b": 20}]  # same proportions
    got = distribution_drift(_events(spark, mixes), "event_type").collect()
    assert len(got) == 1
    assert got[0]["drift_ppm"] == 0
    assert got[0]["n_types"] == 2


def test_disjoint_mix_is_two_million(spark):
    mixes = [{"a": 25}, {"b": 40}]
    got = distribution_drift(_events(spark, mixes), "event_type").collect()
    assert got[0]["drift_ppm"] == 2_000_000
    assert got[0]["n_types"] == 2  # union of categories


def test_known_shift_and_chain(spark):
    mixes = [
        {"a": 50, "b": 50},
        {"a": 75, "b": 25},
        {"a": 75, "b": 25, "c": 50},
    ]
    got = distribution_drift(_events(spark, mixes), "event_type").collect()
    assert len(got) == 2
    assert got[0]["drift_ppm"] == _truth_ppm(mixes[0], mixes[1])
    assert got[1]["drift_ppm"] == _truth_ppm(mixes[1], mixes[2])
    assert got[1]["n_types"] == 3
    assert got[0]["day_from"] == datetime.date(2024, 1, 1)
    assert got[0]["day_to"] == datetime.date(2024, 1, 2)


def test_single_corpus_scan(spark):
    # Review finding: the day-index subtree and the fan-out each rebuilt the
    # counts aggregate (plus a third scan for days.count()).  The persisted
    # counts must feed the runtime plan — no raw scan above the cache.
    mixes = [{"a": 10, "b": 5}, {"a": 7, "b": 9}, {"a": 3}]
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    # materialize=False: the lazy plan-inspection face returns the plan AND
    # the persisted counts handle (ADVICE r4: the caller owns the cache's
    # lifetime, so it must receive the means to release it)
    out, counts = distribution_drift(
        _events(spark, mixes), "event_type", materialize=False
    )
    try:
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        runtime = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in plan
        # the counts aggregation must not be rebuilt above the cache: the only
        # HashAggregate(keys=[day...] lives in the cached build plan below
        assert "HashAggregate(keys=[day" not in runtime
    finally:
        counts.unpersist(blocking=True)
    # the returned handle releases the cache without clearCache()
    assert len(jsc.getRDDStorageInfo()) == before


def test_default_face_releases_cache(spark):
    # ADVICE r3: the persisted counts table used to stay live for the
    # session on the success path.
    mixes = [{"a": 10, "b": 5}, {"a": 7, "b": 9}]
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getRDDStorageInfo()
    out = distribution_drift(_events(spark, mixes), "event_type")
    assert out.count() == 1
    assert len(jsc.getRDDStorageInfo()) == len(before)


def test_duckdb_parity_sf(spark):
    got = [
        tuple(r)
        for r in q_distribution_drift(spark, SF_DIR)
        .toPandas()
        .itertuples(index=False)
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    want = [tuple(r) for r in con.execute(drift_sql()).fetchall()]
    assert got == want
    assert len(got) > 0
