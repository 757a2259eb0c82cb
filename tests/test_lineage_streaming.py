"""Checkpoint-resume lineage + streaming extraction tests."""

import os
import subprocess
import sys

import pytest

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tablestructurerec_spark.plans.lineage import (
    LINEAGE_SCHEMA,
    bucket_col,
    completed_buckets,
    read_output,
    run_with_lineage,
)
from tablestructurerec_spark.sources.synthetic import synth_transcripts

N_BUCKETS = 6


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, n_convs=24, mean_turns=5, seed=7).cache()


def test_crash_then_resume_equals_one_shot(spark, transcripts, tmp_path):
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")

    # one-shot reference run
    run_with_lineage(spark, transcripts, out_a, n_buckets=N_BUCKETS, run_id="full")
    want = sorted(
        (r.conv_id, r.turn_idx, r.table_idx, r.pred_html)
        for r in read_output(spark, out_a).collect()
    )

    # crash after 2 buckets, then resume
    first = run_with_lineage(
        spark, transcripts, out_b, n_buckets=N_BUCKETS, run_id="r1", fail_after=2
    )
    assert len(first) == 2
    assert completed_buckets(spark, out_b) == sorted(first)
    second = run_with_lineage(spark, transcripts, out_b, n_buckets=N_BUCKETS, run_id="r2")
    assert sorted(first + second) == list(range(N_BUCKETS))

    got = sorted(
        (r.conv_id, r.turn_idx, r.table_idx, r.pred_html)
        for r in read_output(spark, out_b).collect()
    )
    assert got == want

    # lineage metrics present for every bucket
    lin = spark.read.parquet(f"{out_b}/_lineage")
    assert lin.where(F.col("status") == "ok").select("bucket").distinct().count() == N_BUCKETS
    assert lin.agg(F.min("n_turns")).first()[0] >= 0


def test_resume_is_noop_when_complete(spark, transcripts, tmp_path):
    out = str(tmp_path / "c")
    run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS)
    assert run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS) == []


def test_run_is_single_pass_regardless_of_bucket_count(spark, transcripts, tmp_path):
    """With the input cached, a run into a fresh output launches exactly
    three Spark jobs in either storage mode, whatever the bucket count: the
    map stage of the bucket shuffle (its own job under AQE), the write,
    which also observes the lineage counts, and the lineage append.  No
    per-bucket scan, no second count scan of the input, no re-read of the
    output."""
    sc = spark.sparkContext
    transcripts.count()  # materialize the cache outside the measured runs

    def jobs_for(mode: str, n_buckets: int) -> int:
        if mode == "path":
            out = str(tmp_path / f"b{n_buckets}")
        else:
            out = f"catalog:tsr_test_pass{n_buckets}"
            _drop_catalog(spark, out)
        group = f"lineage-{mode}-{n_buckets}"
        sc.setJobGroup(group, "single-pass check")
        try:
            run_with_lineage(spark, transcripts, out, n_buckets=n_buckets)
        finally:
            sc.setJobGroup("", "")
            if mode == "catalog":
                _drop_catalog(spark, out)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs = {(m, n): jobs_for(m, n) for m in ("path", "catalog") for n in (3, 12)}
    assert set(jobs.values()) == {3}, jobs


def _plan_nodes(df):
    """Node names of ``df``'s physical plan, top down."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = []
    for line in plan.splitlines()[1:]:  # [0] is the AdaptiveSparkPlan root
        node = line.lstrip(" +-:|")
        if node.startswith("*("):  # whole-stage codegen id
            node = node.split(" ", 1)[1]
        names.append(node.split(" ", 1)[0])
    return names


def test_write_plan_scans_once_and_observes_above_the_shuffle(spark, transcripts, tmp_path):
    """The write's plan reads the input with one scan, runs the kernel below
    the only shuffle, and observes the counts above it, in the write's
    result stage, where a retried map stage cannot count a row twice."""
    from tablestructurerec_spark.plans.lineage import _bucketed_tables

    src_dir = str(tmp_path / "src")
    transcripts.repartition(3).write.parquet(src_dir)
    tables, _obs = _bucketed_tables(spark, spark.read.parquet(src_dir), [0, 2, 5], N_BUCKETS)
    nodes = _plan_nodes(tables)
    assert sum("Scan" in n for n in nodes) == 1, nodes
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("CollectMetrics") == 1, nodes
    shuffle = nodes.index("Exchange")
    assert nodes.index("CollectMetrics") < shuffle < nodes.index("MapInPandas"), nodes
    # the observation's width does not grow with the bucket count
    widths = {
        n: _observed_aggregates(_bucketed_tables(spark, transcripts, list(range(n)), n)[0])
        for n in (3, 64)
    }
    assert widths[3] == widths[64] > 0, widths


def _observed_aggregates(df):
    """The number of aggregate expressions in ``df``'s ``CollectMetrics``
    node."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "CollectMetrics":
            exprs = node.metricExpressions()
            agg = '"class":"org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression"'
            return sum(exprs.apply(i).toJSON().count(agg) for i in range(exprs.size()))
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.inputPlan())
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    raise AssertionError("no CollectMetrics node")


def test_fresh_run_file_count_is_bounded_by_buckets(spark, transcripts, tmp_path):
    """Each bucket is written by at most ``ceil(P / n_buckets)`` tasks, so a
    fresh run writes at most ``n_buckets * ceil(P / n_buckets)`` data files
    under ``tables/``, however many partitions the input has."""
    p = spark.sparkContext.defaultParallelism
    src = transcripts.repartition(2 * p).cache()
    try:
        assert src.rdd.getNumPartitions() == 2 * p
        for n_buckets in (3, 12):
            out = tmp_path / f"b{n_buckets}"
            run_with_lineage(spark, src, str(out), n_buckets=n_buckets)
            files = list((out / "tables").glob("bucket=*/*.parquet"))
            assert 0 < len(files) <= n_buckets * -(-p // n_buckets), (n_buckets, len(files))
    finally:
        src.unpersist()


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_resume_with_another_bucket_count_is_refused(spark, transcripts, tmp_path, mode):
    """Bucket ids do not carry over between bucket counts: a resume with
    another count would write some tables twice.  It is refused before any
    write, naming both counts."""
    out = str(tmp_path / "out") if mode == "path" else "catalog:tsr_test_refuse"
    if mode == "catalog":
        _drop_catalog(spark, out)
    try:
        run_with_lineage(spark, transcripts, out, n_buckets=4, run_id="r1", fail_after=2)
        before = read_output(spark, out).count()
        with pytest.raises(ValueError, match=r"4-bucket run.*with 8 buckets"):
            run_with_lineage(spark, transcripts, out, n_buckets=8, run_id="r2")
        assert read_output(spark, out).count() == before
        assert completed_buckets(spark, out) == [0, 1]
    finally:
        if mode == "catalog":
            _drop_catalog(spark, out)


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_resume_after_a_lost_lineage_append_checks_the_bucket_count(
    spark, transcripts, tmp_path, mode
):
    """A crash between the table commit and the lineage append leaves
    tables that no lineage row records.  A resume with another bucket count
    would rewrite their rows into other buckets beside them, so it is
    refused before any write; a resume with the same count rewrites every
    bucket and equals the one-shot output."""
    import shutil

    out = str(tmp_path / "out") if mode == "path" else "catalog:tsr_test_lost"
    ref = str(tmp_path / "ref")

    def lose_lineage():
        if mode == "path":
            shutil.rmtree(f"{out}/_lineage")
        else:
            spark.sql(f"DROP TABLE {out[len('catalog:'):]}_lineage")

    def rows(o):
        keys = ("conv_id", "turn_idx", "table_idx", "pred_html", "bucket")
        return sorted(tuple(r) for r in read_output(spark, o).select(*keys).collect())

    if mode == "catalog":
        _drop_catalog(spark, out)
    try:
        run_with_lineage(spark, transcripts, ref, n_buckets=8, run_id="ref")
        run_with_lineage(spark, transcripts, out, n_buckets=8, run_id="r1")
        lose_lineage()
        before = rows(out)
        with pytest.raises(ValueError, match=r"another bucket count.*with 4 buckets"):
            run_with_lineage(spark, transcripts, out, n_buckets=4, run_id="r2")
        assert rows(out) == before
        assert completed_buckets(spark, out) == []
        assert run_with_lineage(spark, transcripts, out, n_buckets=8, run_id="r3") == list(
            range(8)
        )
        assert rows(out) == rows(ref)
    finally:
        if mode == "catalog":
            _drop_catalog(spark, out)


def _drop_catalog(spark, out):
    prefix = out[len("catalog:"):]
    for t in (f"{prefix}_tables", f"{prefix}_lineage"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _lineage(spark, out):
    if out.startswith("catalog:"):
        return spark.table(f"{out[len('catalog:'):]}_lineage")
    return spark.read.parquet(f"{out}/_lineage")


def _per_bucket(df):
    return {r["bucket"]: r["count"] for r in df.groupBy("bucket").count().collect()}


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_lineage_counts_equal_input_and_written_rows(spark, transcripts, tmp_path, mode):
    """Each bucket's ``n_turns`` is the input's turn count in that bucket and
    its ``n_tables`` the rows written there, across a crash and a resume;
    covers a bucket with turns but no tables and a run with no table at all.
    More buckets than conversations leave some holding only table-free ones.
    The ``<tablet>`` and unclosed ``<table`` turns pass the prefilter but
    yield no table; they still count as turns.  With the input split into
    ``2 * P`` parts and fewer buckets than ``P``, every bucket spans several
    map tasks and, through the ``conv_id`` salt, several writer tasks.  The
    lineage keeps ``LINEAGE_SCHEMA``'s types across the resume's append."""
    texts = ["no table here", "a <tablet> b", "x <table"]
    plain = spark.createDataFrame(
        [(f"plain-{c}", t, "user", text, None, None)
         for c in range(8) for t, text in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    mixed = transcripts.unionByName(plain)
    p = spark.sparkContext.defaultParallelism
    inputs = [
        ("mixed", mixed, 32),
        ("no_tables", plain, 32),
        ("mixed_64", mixed, 64),
        ("split", mixed.repartition(2 * p), p - 1),
    ]
    lineage_schema = StructType.fromDDL(LINEAGE_SCHEMA).simpleString()
    for name, df, n_buckets in inputs:
        if mode == "path":
            out = str(tmp_path / name)
        else:
            out = f"catalog:tsr_test_counts_{name}"
            _drop_catalog(spark, out)
        run_with_lineage(spark, df, out, n_buckets=n_buckets, run_id="r1", fail_after=2)
        run_with_lineage(spark, df, out, n_buckets=n_buckets, run_id="r2")

        turns = _per_bucket(df.withColumn("bucket", bucket_col(n_buckets)))
        try:
            tables = _per_bucket(read_output(spark, out))
        except AnalysisException:  # nothing written: no bucket yielded a table
            tables = {}
        want = {b: (turns.get(b, 0), tables.get(b, 0)) for b in range(n_buckets)}
        lin = _lineage(spark, out)
        schema = lin.schema.simpleString()
        got = {r.bucket: (r.n_turns, r.n_tables) for r in lin.collect()}
        if mode == "catalog":
            _drop_catalog(spark, out)
        assert got == want, name
        assert schema == lineage_schema, name
        if name == "no_tables":
            assert tables == {}
        else:
            assert sum(t for _, t in want.values()) > 0
        if name == "mixed":
            assert any(n_turns and not n_tables for n_turns, n_tables in want.values())


@pytest.mark.parametrize(
    "args, error",
    [
        ([], "one of the arguments --input --synthetic-convs is required"),
        (["--input", "in", "--synthetic-convs", "3"], "not allowed with argument"),
    ],
    ids=["neither", "both"],
)
def test_run_extract_takes_exactly_one_input(tmp_path, args, error):
    """``scripts/run_extract.py`` refuses a run without an input, or with
    both a path and a synthetic count, before it starts Spark."""
    script = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "run_extract.py")
    res = subprocess.run(
        [sys.executable, script, *args, "--output", str(tmp_path / "out")],
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 2 and error in res.stderr, res.stderr


def test_streaming_extraction_matches_batch(spark, transcripts, tmp_path):
    """The flagship plan runs unchanged on a streaming DataFrame."""
    from tablestructurerec_spark.plans.extract import extract_tables

    src_dir = str(tmp_path / "stream_src")
    transcripts.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(transcripts.schema).parquet(src_dir)
    )
    q = (
        extract_tables(stream)
        .writeStream.format("memory")
        .queryName("stream_tables")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.conv_id, r.turn_idx, r.table_idx, r.pred_html)
        for r in spark.sql("select * from stream_tables").collect()
    )
    want = sorted(
        (r.conv_id, r.turn_idx, r.table_idx, r.pred_html)
        for r in extract_tables(spark.read.parquet(src_dir)).collect()
    )
    assert got == want and len(got) > 0


def test_catalog_mode_crash_then_resume(spark, transcripts):
    """`catalog:<prefix>` storage: same bucket-granular resume semantics
    through session-catalog tables (the Iceberg path on a real cluster)."""
    prefix = "catalog:tsr_test_lineage"
    for t in ("tsr_test_lineage_tables", "tsr_test_lineage_lineage"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    first = run_with_lineage(
        spark, transcripts, prefix, n_buckets=N_BUCKETS, run_id="c1", fail_after=2
    )
    assert len(first) == 2
    assert completed_buckets(spark, prefix) == sorted(first)
    second = run_with_lineage(spark, transcripts, prefix, n_buckets=N_BUCKETS, run_id="c2")
    assert sorted(first + second) == list(range(N_BUCKETS))

    got = sorted(
        (r.conv_id, r.turn_idx, r.table_idx, r.pred_html)
        for r in read_output(spark, prefix).collect()
    )
    # byte-identical to a path-mode one-shot
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        run_with_lineage(spark, transcripts, td, n_buckets=N_BUCKETS, run_id="ref")
        want = sorted(
            (r.conv_id, r.turn_idx, r.table_idx, r.pred_html)
            for r in read_output(spark, td).collect()
        )
    assert got == want and len(got) > 0

    lin = spark.table("tsr_test_lineage_lineage")
    assert lin.where(F.col("status") == "ok").select("bucket").distinct().count() == N_BUCKETS
    # re-run on complete state is a no-op
    assert run_with_lineage(spark, transcripts, prefix, n_buckets=N_BUCKETS, run_id="c3") == []
    for t in ("tsr_test_lineage_tables", "tsr_test_lineage_lineage"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
