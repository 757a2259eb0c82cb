"""Training-shard export sink — the terminal step of the selection
pipeline: packed sequences leave the engine as shard-partitioned files plus
a manifest, resumable at shard granularity.

``operators/sampling.q_pack_sequences`` computes bin assignments;
``operators/sampling.q_pipeline_e2e`` composes filter → split → pack.  This
plan WRITES the result — the artifact a trainer actually consumes — with
the same durability contract as the extraction sink (``plans/lineage.py``,
north-rule checkpoint/lineage/metrics requirement):

* output lands under ``out_dir/shards/shard=<s>/`` via
  ``write.partitionBy("shard")`` with dynamic partition overwrite — ONE
  distributed job per run covers every not-yet-done shard, re-runs replace
  only their own partitions (idempotent);
* a manifest row ``(shard, status, n_docs, n_bins, n_tokens, wall_s,
  run_id)`` is appended per shard — the per-shard token totals a training
  job needs for curriculum/steps math, derived from the packed frame the
  write itself consumed (no second scan of text);
* resume = skip shards whose latest manifest status is ``ok``; a crash
  mid-write commits nothing (parquet staging), so the next run redoes
  exactly the unfinished shards — exactly-once at shard granularity.

On a real cluster the parquet directory is an Iceberg table and the two
writes map to replace-partitions / append-files snapshot commits, same as
``plans/lineage.py`` documents for the extraction sink.
"""

from __future__ import annotations

import time
from typing import List

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["export_training_shards", "read_shards", "read_manifest"]

MANIFEST_SCHEMA = (
    "shard int, status string, n_docs long, n_bins long, n_tokens long, "
    "wall_s double, run_id string"
)


def _paths(out_dir: str) -> tuple[str, str]:
    return f"{out_dir}/shards", f"{out_dir}/_manifest"


def read_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_paths(out_dir)[0])


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_paths(out_dir)[1])


def completed_shards(spark: SparkSession, out_dir: str) -> List[int]:
    try:
        m = read_manifest(spark, out_dir)
    except AnalysisException:
        return []
    return [
        r["shard"]
        for r in m.where(F.col("status") == "ok").select("shard").distinct().collect()
    ]


def export_training_shards(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_id: str = "run0",
    fail_after: int | None = None,
) -> List[int]:
    """Pack the corpus and write every not-yet-done shard; returns the
    shards written this run.  ``fail_after`` caps the run at N shards (test
    hook simulating a crash between runs)."""
    from tablestructurerec_spark.sources.read import read_table

    from .sampling import _PACK_SHARDS, _pack_docs

    done = set(completed_shards(spark, out_dir))
    todo = [s for s in range(_PACK_SHARDS) if s not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    if not todo:
        return []
    t0 = time.perf_counter()
    docs = read_table(spark, sf_dir, "documents")
    packed = _pack_docs(docs).where(F.col("shard").isin(todo))
    # the trainer reads text: join it back on doc_id (equi-join, text never
    # rides the packing shuffle — lineage.py's narrow-shuffle discipline)
    rows = packed.join(docs.select("doc_id", "text"), "doc_id").select(
        "shard", "bin_idx", "doc_id", "n_tokens", "text"
    )
    shards_p, manifest_p = _paths(out_dir)
    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    old_mode = spark.conf.get(overwrite_key, None)
    spark.conf.set(overwrite_key, "dynamic")
    try:
        rows.write.mode("overwrite").partitionBy("shard").parquet(shards_p)
    finally:
        if old_mode is None:
            spark.conf.unset(overwrite_key)
        else:
            spark.conf.set(overwrite_key, old_mode)
    wall = time.perf_counter() - t0
    # manifest metrics come from the WRITTEN output (footer-backed counts,
    # no re-pack): totals per shard + bins per shard
    stats = {
        r["shard"]: r
        for r in read_shards(spark, out_dir)
        .where(F.col("shard").isin(todo))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.max("bin_idx") + 1).alias("n_bins"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .collect()
    }
    manifest = spark.createDataFrame(
        [
            (
                s,
                "ok",
                stats[s]["n_docs"] if s in stats else 0,
                int(stats[s]["n_bins"]) if s in stats else 0,
                int(stats[s]["n_tokens"]) if s in stats else 0,
                wall,
                run_id,
            )
            for s in todo
        ],
        MANIFEST_SCHEMA,
    )
    manifest.write.mode("append").parquet(manifest_p)
    return todo
