"""Sequence-packing invariants (the fold is also oracle-pinned inside
t_pipeline_e2e)."""

from collections import defaultdict

from pyspark.sql import functions as F

from tablestructurerec_spark.operators.sampling import _PACK_BUDGET, _pack_docs
from tablestructurerec_spark.sources.read import read_table

SF_DIR = "/root/testdata/sf0.001"


def _packed(spark):
    return _pack_docs(read_table(spark, SF_DIR, "documents"))


def test_packing_invariants(spark):
    rows = _packed(spark).collect()
    assert rows
    fills: dict = defaultdict(int)
    docs_in_bin: dict = defaultdict(int)
    for r in rows:
        fills[(r.shard, r.bin_idx)] += r.n_tokens
        docs_in_bin[(r.shard, r.bin_idx)] += 1
    # a bin only exceeds the budget when a single oversized doc owns it
    for k, fill in fills.items():
        assert fill <= _PACK_BUDGET or docs_in_bin[k] == 1, (k, fill)
    # bins are contiguous 0..max per shard (no gaps — the greedy fold never
    # skips an index)
    per_shard = defaultdict(set)
    for shard, b in fills:
        per_shard[shard].add(b)
    for shard, bins in per_shard.items():
        assert bins == set(range(max(bins) + 1)), (shard, sorted(bins))


def test_packing_is_deterministic_and_shard_parallel(spark):
    a = _packed(spark).collect()
    b = _packed(spark).collect()
    assert a == b
    # the only wide stage is the shard shuffle feeding applyInPandas: the
    # exchange carries (doc_id, shard, n_tokens) — never text
    plan = _packed(spark)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "text" not in plan.split("Exchange hashpartitioning")[1].split("\n")[0]
