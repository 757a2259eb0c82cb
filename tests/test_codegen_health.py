"""Whole-stage-codegen health pin over EVERY registered query: the driver
rows plus the operator queries registered beyond them.

VERDICT r4 #1: the round-4 URL family's fused faces pushed the generated
``processNext()`` past janino's limits; Spark logged
``ERROR CodeGenerator: Failed to compile the generated Java code`` and
silently fell back to INTERPRETED evaluation — correct results, unindexed
perf loss, invisible to every green test.  This pin makes that class of
regression a hard failure: with ``spark.sql.codegen.fallback=false`` a
compile failure PROPAGATES instead of falling back, so executing every
registered query under that conf proves each one's generated code compiles.

(The bench twin: ``bench.py`` counts ``Failed to compile`` lines in the
session's captured stderr and ships the count in the result JSON — belt for
queries, braces for anything this registry doesn't cover.)
"""

import os

import pytest

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _compiled_queries():
    """Every query the pin compiles: the driver rows, then every operator
    module's ``QUERIES``."""
    import __spark_entry__ as entry
    from tablestructurerec_spark.operators import collect

    return {**entry.queries(), **collect("QUERIES")}


def test_pin_covers_every_timed_query():
    # Spark-free: whatever bench.py times, the pin below compiles
    import bench

    assert set(bench._timed_queries()) <= set(_compiled_queries())


@pytest.mark.codegen
@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)
def test_every_registered_query_compiles(spark):
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        failures = {}
        for name, fn in _compiled_queries().items():
            try:
                # noop sink consumes whole rows — every column's generated
                # code actually runs (a count() would let Catalyst prune
                # projection-only expressions out of the compiled stage)
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — collect all, report once
                failures[name] = f"{type(exc).__name__}: {exc}"[:500]
        assert not failures, f"codegen compile failures: {failures}"
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
