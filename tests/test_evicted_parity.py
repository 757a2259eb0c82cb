"""Driver-identical DuckDB parity for the registered operator queries that
have a module oracle but are not driver rows (``__spark_entry__.DRIVER_ROWS``;
the named exceptions of ``tests/test_operator_reach.py``).  This file pins
exactly what the driver would: row count, column names, and order-insensitive
values at the test sf, with every generated stage compiled (no codegen
fallback).  The list is derived, not kept.
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry
from tablestructurerec_spark.operators import collect

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

QUERIES = collect("QUERIES")
ORACLES = collect("ORACLE_SQL")
EVICTED = [k for k in QUERIES if k in ORACLES and k not in entry.DRIVER_ROWS]


def _duck(sql):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(sql).df()


def _normalize(df):
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(
            tuple(
                (round(v, 6) if not math.isnan(v) else "nan")
                if isinstance(v, float)
                else v
                for v in tup
            )
        )
    return sorted(rows, key=repr)


def test_every_module_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", EVICTED)
def test_evicted_query_matches_oracle(spark, name):
    # codegen.fallback=false: a whole-stage-codegen compile failure raises
    # instead of silently running interpreted (tests/test_codegen_health.py)
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = QUERIES[name](spark, SF_DIR).toPandas()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    want = _duck(ORACLES[name])
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), name
    assert _normalize(got) == _normalize(want), name


def test_registry_is_exactly_at_cap_with_rotation_applied():
    os.environ["TSR_TEST_SF_DIR"] = SF_DIR
    qs, osql = entry.queries(), entry.oracle_sql()
    assert len(qs) == 50  # the driver's observed cap
    for k in EVICTED:
        assert k not in qs
    for k in ("t_url_hygiene", "t_source_health", "t_sketch_audit", "t_conv_audit"):
        assert k in qs and k in osql


def test_oracle_sql_order_equals_queries():
    # Spark-free: both registries are derived from DRIVER_ROWS, so the
    # driver pairs every row with its own oracle in one order
    os.environ["TSR_TEST_SF_DIR"] = SF_DIR
    assert list(entry.oracle_sql()) == list(entry.queries())
