"""Training-shard export sink (operators/export.py).

Pins: crash → resume produces byte-identical output to a single clean run,
only unfinished shards re-run, manifest totals agree with an independent
recompute of the packing, and re-running a complete export is a no-op.
"""

import os

import pytest

from tablestructurerec_spark.operators.export import (
    completed_shards,
    export_training_shards,
    read_manifest,
    read_shards,
)

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata absent"
)


def _sorted_rows(spark, out_dir):
    return [
        tuple(r)
        for r in read_shards(spark, out_dir)
        .orderBy("shard", "bin_idx", "doc_id")
        .collect()
    ]


def test_crash_resume_byte_equality(spark, tmp_path):
    clean = str(tmp_path / "clean")
    crashy = str(tmp_path / "crashy")
    done_clean = export_training_shards(spark, SF_DIR, clean, run_id="r0")
    assert done_clean == list(range(8))

    # "crash" after 3 shards, then resume
    first = export_training_shards(spark, SF_DIR, crashy, run_id="r0", fail_after=3)
    assert first == [0, 1, 2]
    assert sorted(completed_shards(spark, crashy)) == [0, 1, 2]
    second = export_training_shards(spark, SF_DIR, crashy, run_id="r1")
    assert second == [3, 4, 5, 6, 7]

    assert _sorted_rows(spark, crashy) == _sorted_rows(spark, clean)
    # manifest carries both runs, disjoint shard sets, all ok
    m = read_manifest(spark, crashy).toPandas()
    assert set(m.loc[m.run_id == "r0", "shard"]) == {0, 1, 2}
    assert set(m.loc[m.run_id == "r1", "shard"]) == {3, 4, 5, 6, 7}
    assert (m.status == "ok").all()


def test_complete_export_is_noop(spark, tmp_path):
    out = str(tmp_path / "full")
    export_training_shards(spark, SF_DIR, out)
    assert export_training_shards(spark, SF_DIR, out, run_id="r2") == []
    assert read_manifest(spark, out).where("run_id = 'r2'").count() == 0


def test_manifest_matches_independent_recompute(spark, tmp_path):
    from tablestructurerec_spark.operators.sampling import q_pack_sequences

    out = str(tmp_path / "m")
    export_training_shards(spark, SF_DIR, out)
    packed = q_pack_sequences(spark, SF_DIR).toPandas()
    expect = packed.groupby("shard").agg(
        n_docs=("doc_id", "size"),
        n_bins=("bin_idx", lambda b: b.max() + 1),
        n_tokens=("n_tokens", "sum"),
    )
    m = read_manifest(spark, out).toPandas().set_index("shard").sort_index()
    assert m["n_docs"].tolist() == expect["n_docs"].tolist()
    assert m["n_bins"].tolist() == expect["n_bins"].tolist()
    assert m["n_tokens"].tolist() == expect["n_tokens"].tolist()
    # every written row still carries its text payload
    row = read_shards(spark, out).limit(1).collect()[0]
    assert isinstance(row.text, str) and len(row.text) > 0
