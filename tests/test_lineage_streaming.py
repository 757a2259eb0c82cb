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
    """With the input cached, a run into a fresh output launches one Spark
    job in path mode and two in catalog mode, whatever the bucket count:
    the write, which also observes the lineage counts, and in catalog mode
    the lineage append (in path mode the driver writes the lineage file
    itself).  No shuffle, no per-bucket scan, no second count scan of the
    input, no re-read of the output."""
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
    assert jobs == {("path", 3): 1, ("path", 12): 1, ("catalog", 3): 2, ("catalog", 12): 2}, jobs


def _lineage_files(out):
    """The lineage's data files: what a parquet reader reads."""
    return sorted(
        f for f in os.listdir(f"{out}/_lineage") if not f.startswith(("_", "."))
    )


def test_each_path_run_adds_one_lineage_file(spark, transcripts, tmp_path):
    """A path-mode run appends its lineage rows as exactly one data file,
    however many buckets it records."""
    out = str(tmp_path / "out")
    counts = []
    for run_id, fail_after in (("r1", 2), ("r2", 5), ("r3", None)):
        run_with_lineage(
            spark, transcripts, out, n_buckets=12, run_id=run_id, fail_after=fail_after
        )
        counts.append(len(_lineage_files(out)))
    assert counts == [1, 2, 3]
    assert completed_buckets(spark, out) == list(range(12))


def test_leftover_temporary_lineage_file_is_ignored(spark, transcripts, tmp_path, monkeypatch):
    """A crash while writing the lineage file leaves ``_tmp-<commit>.parquet``,
    which readers skip: its buckets count as not done, and the resume's
    output equals the one-shot output."""
    from tablestructurerec_spark.plans import lineage

    ref = str(tmp_path / "ref")
    out = str(tmp_path / "out")
    run_with_lineage(spark, transcripts, ref, n_buckets=N_BUCKETS, run_id="ref")
    first = run_with_lineage(
        spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r1", fail_after=2
    )
    append_file = lineage._append_file

    def crash_before_rename(spark_, lin_t, commit, table):
        """The state a crash between the write and the rename leaves: the
        file under its temporary name."""
        append_file(spark_, lin_t, commit, table)
        jpath = spark_._jvm.org.apache.hadoop.fs.Path
        part = jpath(f"{lin_t}/part-{commit}.parquet")
        fs = part.getFileSystem(spark_._jsc.hadoopConfiguration())
        assert fs.rename(part, jpath(f"{lin_t}/_tmp-{commit}.parquet"))
        raise RuntimeError("crash before the rename")

    with monkeypatch.context() as m:
        m.setattr(lineage, "_append_file", crash_before_rename)
        with pytest.raises(RuntimeError, match="before the rename"):
            run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r2")
    leftovers = [f for f in os.listdir(f"{out}/_lineage") if f.startswith("_tmp-")]
    assert len(leftovers) == 1
    assert completed_buckets(spark, out) == first
    second = run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r3")
    assert sorted(first + second) == list(range(N_BUCKETS))
    assert _out_rows(spark, out) == _out_rows(spark, ref)


def test_driver_written_lineage_file_reads_with_the_lineage_schema(
    spark, transcripts, tmp_path
):
    """The lineage file the driver writes reads back with ``LINEAGE_SCHEMA``'s
    exact types, alone and next to a file Spark wrote, and holds the same
    values as Spark's file of the same rows."""
    out = str(tmp_path / "out")
    run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r1")
    want = StructType.fromDDL(LINEAGE_SCHEMA)
    lin = spark.read.parquet(f"{out}/_lineage")
    assert lin.schema == want
    rows = sorted(lin.collect())
    spark.createDataFrame(rows, want).coalesce(1).write.mode("append").parquet(
        f"{out}/_lineage"
    )
    assert len(_lineage_files(out)) == 2
    both = spark.read.parquet(f"{out}/_lineage")
    assert both.schema == want
    assert sorted(both.collect()) == sorted(rows + rows)


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
    """The write's plan reads the input with one scan and has no shuffle:
    the kernel and the observation above it run in the write's only stage,
    its result stage, where a retried task cannot count a row twice.  The
    bucket filter is planned only when some bucket is done."""
    from tablestructurerec_spark.plans.lineage import _bucketed_tables

    src_dir = str(tmp_path / "src")
    transcripts.repartition(3).write.parquet(src_dir)
    tables, _obs = _bucketed_tables(spark.read.parquet(src_dir), [0, 2, 5], N_BUCKETS)
    nodes = _plan_nodes(tables)
    assert sum("Scan" in n for n in nodes) == 1, nodes
    assert "Exchange" not in nodes, nodes
    assert nodes.count("CollectMetrics") == 1, nodes
    assert nodes.index("CollectMetrics") < nodes.index("MapInPandas"), nodes
    assert "Filter" in nodes[nodes.index("MapInPandas"):], nodes
    # with every bucket todo there is no bucket filter below the kernel
    every = _plan_nodes(
        _bucketed_tables(spark.read.parquet(src_dir), list(range(N_BUCKETS)), N_BUCKETS)[0]
    )
    assert "Filter" not in every[every.index("MapInPandas"):], every
    # the observation's width does not grow with the bucket count
    widths = {
        n: _observed_aggregates(_bucketed_tables(transcripts, list(range(n)), n)[0])
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
    """The kernel's output is written where it runs, so a fresh run writes
    at most one data file per kernel task under ``tables/``, and as many
    at 12 buckets as at 3: the file count does not depend on the bucket
    count."""
    p = spark.sparkContext.defaultParallelism
    src = transcripts.repartition(2 * p).cache()
    try:
        assert src.rdd.getNumPartitions() == 2 * p
        counts = {}
        for n_buckets in (3, 12):
            out = tmp_path / f"b{n_buckets}"
            run_with_lineage(spark, src, str(out), n_buckets=n_buckets)
            counts[n_buckets] = len(list((out / "tables").rglob("*.parquet")))
        assert 0 < counts[3] == counts[12] <= 2 * p, counts
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


def _lose_lineage(spark, out):
    """Delete the lineage of ``out``, as a crash before its append would
    have left it."""
    import shutil

    if out.startswith("catalog:"):
        spark.sql(f"DROP TABLE {out[len('catalog:'):]}_lineage")
    else:
        shutil.rmtree(f"{out}/_lineage")


def _raw_tables(spark, out):
    """Every written table row, whichever commit it belongs to."""
    if out.startswith("catalog:"):
        return spark.table(f"{out[len('catalog:'):]}_tables")
    return spark.read.parquet(f"{out}/tables")


def _out_rows(spark, out):
    keys = ("conv_id", "turn_idx", "table_idx", "pred_html", "bucket")
    return sorted(tuple(r) for r in read_output(spark, out).select(*keys).collect())


def _assert_unique_keys(rows):
    keys = [r[:3] for r in rows]
    assert len(keys) == len(set(keys)) > 0


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_resume_after_a_lost_lineage_append_checks_the_bucket_count(
    spark, transcripts, tmp_path, mode
):
    """A crash between the table commit and the lineage append leaves a
    commit that no lineage row records.  Readers ignore it, so a resume with
    another bucket count is correct: it rewrites every bucket in a new
    commit, and the output equals a one-shot run with that count, each
    table once."""
    out = str(tmp_path / "out") if mode == "path" else "catalog:tsr_test_lost"
    ref = str(tmp_path / "ref")
    if mode == "catalog":
        _drop_catalog(spark, out)
    try:
        run_with_lineage(spark, transcripts, ref, n_buckets=4, run_id="ref")
        run_with_lineage(spark, transcripts, out, n_buckets=8, run_id="r1")
        _lose_lineage(spark, out)
        assert _out_rows(spark, out) == []
        assert completed_buckets(spark, out) == []
        assert run_with_lineage(spark, transcripts, out, n_buckets=4, run_id="r2") == list(
            range(4)
        )
        got = _out_rows(spark, out)
        assert got == _out_rows(spark, ref)
        _assert_unique_keys(got)
        assert _raw_tables(spark, out).count() == 2 * len(got)
    finally:
        if mode == "catalog":
            _drop_catalog(spark, out)


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_orphan_commit_is_ignored_and_resume_equals_one_shot(
    spark, transcripts, tmp_path, mode, monkeypatch
):
    """A run that crashes after its table commit, in the Arrow lineage
    append, leaves an orphan commit.  ``read_output`` shows only the
    buckets the ok rows record, and a resume redoes the rest: its output
    equals the one-shot output."""
    from tablestructurerec_spark.plans import lineage

    out = str(tmp_path / "out") if mode == "path" else "catalog:tsr_test_orphan"
    ref = str(tmp_path / "ref")
    if mode == "catalog":
        _drop_catalog(spark, out)
    try:
        run_with_lineage(spark, transcripts, ref, n_buckets=N_BUCKETS, run_id="ref")
        want = _out_rows(spark, ref)
        first = run_with_lineage(
            spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r1", fail_after=2
        )

        def crash(*_args, **_kwargs):
            raise RuntimeError("crash before the lineage append")

        with monkeypatch.context() as m:
            m.setattr(lineage.pa, "table", crash)
            with pytest.raises(RuntimeError, match="lineage append"):
                run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r2")
        assert _raw_tables(spark, out).count() == len(want)  # the orphan holds the rest
        assert completed_buckets(spark, out) == first
        assert _out_rows(spark, out) == [r for r in want if r[4] in first]
        second = run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r3")
        assert sorted(first + second) == list(range(N_BUCKETS))
        assert _out_rows(spark, out) == want
    finally:
        if mode == "catalog":
            _drop_catalog(spark, out)


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_two_ok_commits_of_a_bucket_yield_one_copy(spark, transcripts, tmp_path, mode):
    """When two ok commits cover the same buckets, ``read_output`` returns
    the rows of one of them: each table once, equal to a single run's
    output.  The two commits are made by saving the lineage aside,
    re-running, and appending the saved rows back."""
    out = str(tmp_path / "out") if mode == "path" else "catalog:tsr_test_twice"
    if mode == "catalog":
        _drop_catalog(spark, out)
    try:
        run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r1")
        want = _out_rows(spark, out)
        saved = _lineage(spark, out).collect()
        _lose_lineage(spark, out)
        assert run_with_lineage(
            spark, transcripts, out, n_buckets=N_BUCKETS, run_id="r2"
        ) == list(range(N_BUCKETS))
        append = spark.createDataFrame(saved, LINEAGE_SCHEMA).write.mode("append")
        if mode == "catalog":
            append.saveAsTable(f"{out[len('catalog:'):]}_lineage")
        else:
            append.parquet(f"{out}/_lineage")
        lin = _lineage(spark, out)
        assert lin.select("commit").distinct().count() == 2
        assert lin.where(F.col("status") == "ok").count() == 2 * N_BUCKETS
        got = _out_rows(spark, out)
        assert got == want
        _assert_unique_keys(got)
        assert _raw_tables(spark, out).count() == 2 * len(want)
        assert run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS) == []
    finally:
        if mode == "catalog":
            _drop_catalog(spark, out)


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_read_output_schema_is_the_tables_schema_and_bucket(spark, transcripts, tmp_path, mode):
    """``read_output`` returns ``TABLES_SCHEMA`` and ``bucket int``, in
    that order, without the ``commit`` column."""
    from tablestructurerec_spark.plans.extract import TABLES_SCHEMA

    out = str(tmp_path / "out") if mode == "path" else "catalog:tsr_test_schema"
    if mode == "catalog":
        _drop_catalog(spark, out)
    try:
        run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS, fail_after=2)
        run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS)
        got = read_output(spark, out).schema.simpleString()
    finally:
        if mode == "catalog":
            _drop_catalog(spark, out)
    assert got == StructType.fromDDL(TABLES_SCHEMA + ", bucket int").simpleString()


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_old_layout_out_dir_is_refused(spark, transcripts, tmp_path, mode):
    """An ``out_dir`` of the older per-bucket layout (tables partitioned by
    ``bucket``, lineage without ``commit``) is refused by both the run and
    the reader with a ``ValueError`` that names the old layout, not read as
    empty or failed inside a join."""
    from tablestructurerec_spark.plans.extract import extract_tables

    out = str(tmp_path / "out") if mode == "path" else "catalog:tsr_test_old"
    old_lineage = (
        "bucket int, n_buckets int, status string, n_turns long, n_tables long, "
        "wall_s double, run_id string"
    )
    tables = extract_tables(transcripts).withColumn("bucket", bucket_col(N_BUCKETS))
    lin = spark.createDataFrame(
        [(b, N_BUCKETS, "ok", 1, 1, 1.0, "run0") for b in range(N_BUCKETS)], old_lineage
    )
    if mode == "catalog":
        _drop_catalog(spark, out)
        prefix = out[len("catalog:"):]
        tables.write.partitionBy("bucket").saveAsTable(f"{prefix}_tables")
        lin.write.saveAsTable(f"{prefix}_lineage")
    else:
        tables.write.partitionBy("bucket").parquet(f"{out}/tables")
        lin.write.parquet(f"{out}/_lineage")
    try:
        with pytest.raises(ValueError, match="old per-bucket partition layout"):
            run_with_lineage(spark, transcripts, out, n_buckets=N_BUCKETS)
        with pytest.raises(ValueError, match="old per-bucket partition layout"):
            read_output(spark, out)
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
    tasks, each of which writes its rows and counts them.  The lineage
    keeps ``LINEAGE_SCHEMA``'s types across the resume's append."""
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
