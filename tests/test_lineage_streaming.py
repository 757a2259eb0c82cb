"""Checkpoint-resume lineage + streaming extraction tests."""

import pytest

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from tablestructurerec_spark.plans.lineage import (
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
    """With the input cached, a run into a fresh output launches at most two
    Spark jobs in either storage mode, whatever the bucket count: the
    extract write, which also observes the lineage counts, and the lineage
    append.  No per-bucket scan, no second count scan of the input, no
    re-read of the output."""
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
    assert max(jobs.values()) <= 2, jobs


def _drop_catalog(spark, out):
    prefix = out[len("catalog:"):]
    for t in (f"{prefix}_tables", f"{prefix}_lineage"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _lineage_rows(spark, out):
    if out.startswith("catalog:"):
        lin = spark.table(f"{out[len('catalog:'):]}_lineage")
    else:
        lin = spark.read.parquet(f"{out}/_lineage")
    return lin.select("bucket", "n_turns", "n_tables").collect()


def _per_bucket(df):
    return {r["bucket"]: r["count"] for r in df.groupBy("bucket").count().collect()}


@pytest.mark.parametrize("mode", ["path", "catalog"])
def test_lineage_counts_equal_input_and_written_rows(spark, transcripts, tmp_path, mode):
    """Each bucket's ``n_turns`` is the input's turn count in that bucket and
    its ``n_tables`` the rows written there, across a crash and a resume;
    covers a bucket with turns but no tables and a run with no table at all.
    More buckets than conversations leave some holding only table-free ones."""
    n_buckets = 32
    plain = spark.createDataFrame(
        [(f"plain-{c}", t, "user", "no table here", None, None)
         for c in range(8) for t in range(3)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    inputs = {"mixed": transcripts.unionByName(plain), "no_tables": plain}
    for name, df in inputs.items():
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
        got = {r.bucket: (r.n_turns, r.n_tables) for r in _lineage_rows(spark, out)}
        if mode == "catalog":
            _drop_catalog(spark, out)
        assert got == want, name
        if name == "mixed":
            assert any(n_turns and not n_tables for n_turns, n_tables in want.values())
            assert sum(t for _, t in want.values()) > 0
        else:
            assert tables == {}


def test_streaming_extraction_matches_batch(spark, transcripts, tmp_path):
    from tablestructurerec_spark.plans.extract import extract_tables
    from tablestructurerec_spark.streaming.extract_stream import stream_extract_tables

    src_dir = str(tmp_path / "stream_src")
    transcripts.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(transcripts.schema).parquet(src_dir)
    )
    q = (
        stream_extract_tables(stream)
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


def test_streaming_windowed_stats(spark, transcripts, tmp_path):
    from tablestructurerec_spark.streaming.extract_stream import stream_turn_stats

    src_dir = str(tmp_path / "stats_src")
    transcripts.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(transcripts.schema).parquet(src_dir)
    q = (
        stream_turn_stats(stream)
        .writeStream.format("memory")
        .queryName("stream_stats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; correctness of counts
    # is covered against the batch aggregate on the closed subset
    stats = spark.sql("select * from stream_stats").collect()
    batch = (
        spark.read.parquet(src_dir)
        .groupBy(F.window("ts", "10 minutes"), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
    ).collect()
    batch_map = {(r.window, r.conv_id): r.n_turns for r in batch}
    for r in stats:
        assert batch_map[(r.window, r.conv_id)] == r.n_turns


def test_stateful_session_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions close after `gap` of
    event-time silence and survive query restarts via the checkpoint."""
    import datetime as dt

    from tablestructurerec_spark.streaming.extract_stream import (
        stream_conversation_sessions,
    )

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)

    def turn(conv, i, minutes, text="hi"):
        return (conv, i, "user", text, None, t0 + dt.timedelta(minutes=minutes))

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    phase1 = spark.createDataFrame(
        [
            turn("A", 0, 0),
            turn("A", 1, 3, "x <table><tr><td>1</td></tr></table>"),
            turn("A", 2, 5),
            turn("B", 0, 2),
            turn("B", 1, 4),
        ],
        schema,
    )
    phase1.coalesce(1).write.mode("append").parquet(src_dir)

    def run_once():
        stream = spark.readStream.schema(phase1.schema).parquet(src_dir)
        q = (
            stream_conversation_sessions(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # watermark still at phase-1 max - 10min: nothing closed yet

    # a much later turn pushes the watermark far past A/B's last+gap
    spark.createDataFrame([turn("Z", 0, 600)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    run_once()
    # one more advance so Z itself also closes
    spark.createDataFrame([turn("Z2", 0, 1300)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    run_once()

    got = {r.conv_id: r for r in spark.read.parquet(out_dir).collect()}
    assert "A" in got and "B" in got and "Z" in got
    a = got["A"]
    assert a.n_turns == 3 and a.n_tables == 1
    assert a.session_start == t0 and a.session_end == t0 + dt.timedelta(minutes=5)
    b = got["B"]
    assert b.n_turns == 2 and b.n_tables == 0
    assert b.session_start == t0 + dt.timedelta(minutes=2)


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


def test_stateful_session_splits_gap_within_one_batch(spark, tmp_path):
    """A gap larger than `gap` INSIDE a single micro-batch (replay/backfill
    shape) must split sessions exactly like the same turns arriving across
    batches — batch boundaries never define session boundaries."""
    import datetime as dt

    from tablestructurerec_spark.streaming.extract_stream import (
        stream_conversation_sessions,
    )

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        ("A", 0, "u", "x", None, t0),
        ("A", 1, "u", "x <table><tr><td>1</td></tr></table>", None, t0 + dt.timedelta(minutes=5)),
        # 10-hour silence inside the same file -> two sessions
        ("A", 2, "u", "x", None, t0 + dt.timedelta(hours=10)),
        ("A", 3, "u", "x", None, t0 + dt.timedelta(hours=10, minutes=2)),
    ]
    src_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("s", "o", "c"))
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src_dir)

    def run():
        q = (
            stream_conversation_sessions(
                spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(src_dir),
                gap="30 minutes",
                watermark="10 minutes",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    # the first session closed mid-batch (no timeout needed)
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 1
    s = got[0]
    assert (s.n_turns, s.n_tables) == (2, 1)
    assert s.session_end == t0 + dt.timedelta(minutes=5)


def _session_runner(spark, tmp_path, gap, watermark):
    import datetime as dt

    from tablestructurerec_spark.streaming.extract_stream import (
        stream_conversation_sessions,
    )

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    src_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("s", "o", "c"))

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src_dir)

    def run():
        q = (
            stream_conversation_sessions(
                spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(src_dir),
                gap=gap,
                watermark=watermark,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def sessions():
        try:
            return sorted(
                ((r.conv_id, r.session_start, r.session_end, r.n_turns, r.n_tables)
                 for r in spark.read.parquet(out_dir).collect()),
                key=lambda t: (t[0], t[1]),
            )
        except Exception:
            return []

    return feed, run, sessions


def test_stateful_session_not_split_prematurely(spark, tmp_path):
    """A later batch's ON-TIME row landing between two earlier turns must
    bridge them into one session — requires that the first batch did NOT
    prematurely emit a session the watermark hadn't sealed."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)

    def turn(i, minutes):
        return ("A", i, "u", "x", None, t0 + dt.timedelta(minutes=minutes))

    feed, run, sessions = _session_runner(spark, tmp_path, "30 minutes", "10 minutes")
    feed([turn(0, 0), turn(1, 35)])  # naive gap logic would close [0,0] here
    run()
    feed([turn(2, 30)])  # on-time (wm=25m): bridges 0 <-> 35
    run()
    feed([("Z", 0, "u", "x", None, t0 + dt.timedelta(hours=20))])  # seal all
    run()
    got = [s for s in sessions() if s[0] == "A"]
    assert len(got) == 1 and got[0][3] == 3  # ONE session of 3 turns
    assert got[0][1] == t0 and got[0][2] == t0 + dt.timedelta(minutes=35)


def test_stateful_session_backward_gap_stays_split(spark, tmp_path):
    """An out-of-order on-time row OLDER than a pending session by more
    than the gap forms its own session (one-directional gap checks merge
    it wrongly)."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    feed, run, sessions = _session_runner(spark, tmp_path, "5 minutes", "30 minutes")
    feed([("A", 0, "u", "x", None, t0 + dt.timedelta(minutes=100))])
    run()
    # wm = 70m, so t=92m is on-time; 100-92=8m > 5m gap -> separate session
    feed([("A", 1, "u", "x", None, t0 + dt.timedelta(minutes=92))])
    run()
    feed([("Z", 0, "u", "x", None, t0 + dt.timedelta(hours=20))])
    run()
    got = [s for s in sessions() if s[0] == "A"]
    assert len(got) == 2, got
    assert [g[3] for g in got] == [1, 1]


def test_stateful_session_null_text_counts_zero_tables(spark, tmp_path):
    """NULL turn text -> n_tab NULL under ANSI; the sessionizer must count
    it as a turn with zero tables, not crash the query."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    feed, run, sessions = _session_runner(spark, tmp_path, "30 minutes", "10 minutes")
    feed([
        ("A", 0, "u", None, None, t0),
        ("A", 1, "u", "x <table><tr><td>1</td></tr></table>", None,
         t0 + dt.timedelta(minutes=1)),
    ])
    run()
    feed([("Z", 0, "u", "x", None, t0 + dt.timedelta(hours=20))])
    run()
    got = [s for s in sessions() if s[0] == "A"]
    assert len(got) == 1 and got[0][3] == 2 and got[0][4] == 1


def test_duration_parser_grammar():
    from tablestructurerec_spark.streaming.extract_stream import _duration_ms

    assert _duration_ms("90 min") == 90 * 60_000
    assert _duration_ms("1 hour 30 minutes") == 90 * 60_000
    assert _duration_ms("45 s") == 45_000
    import pytest

    with pytest.raises(ValueError, match="bad duration"):
        _duration_ms("1 fortnight")
    with pytest.raises(ValueError, match="bad duration"):
        _duration_ms("soon")


def test_stream_dedup_matches_batch_distinct(spark, tmp_path):
    """Streaming exact dedup emits exactly one row per distinct content
    hash (the batch keep-first semantics' deterministic part)."""
    import datetime as dt

    from tablestructurerec_spark.streaming.extract_stream import stream_dedup_turns

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for i in range(30):
        # 10 distinct texts, each repeated 3x within the watermark horizon
        rows.append((f"c{i}", 0, "u", f"text-{i % 10}", None, t0 + dt.timedelta(seconds=i)))
    src_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("s", "o", "c"))
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src_dir)

    q = (
        stream_dedup_turns(
            spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(src_dir)
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).collect()
    texts = sorted(r.text for r in got)
    assert texts == sorted(f"text-{i}" for i in range(10))
    batch = {r.text for r in spark.read.parquet(src_dir).dropDuplicates(["text"]).collect()}
    assert set(texts) == batch
