"""Exact histogram-refinement quantiles (quantiles.refine_quantiles) —
python ground truth on skewed/tied synthetic data, on several sources and on
the test corpus, pass-count bound, tie-collapse early exit, NULL handling,
and broadcast plan shape of the per-pass count frame.
"""

import os
import random

from pyspark.sql import functions as F

from tablestructurerec_spark.operators.quantiles import refine_quantiles

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")
PROBS = [(1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")]


def _write(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _truth(lengths, num, den):
    s = sorted(lengths)
    k = max(1, (num * len(s) + den - 1) // den)
    return s[k - 1]


def _refine(spark, docs_path):
    """(source, label) -> (n, value), and the pass count, over char lengths."""
    vals = spark.read.parquet(docs_path + "/documents.parquet").select(
        "source", F.length("text").cast("long").alias("v")
    )
    targets, n_passes = refine_quantiles(spark, vals, PROBS)
    return {(t["source"], t["label"]): (t["n"], t["lo"]) for t in targets}, n_passes


def _truth_by_source(rows):
    by_src = {}
    for r in rows:
        if r["source"] is not None and r["text"] is not None:
            by_src.setdefault(r["source"], []).append(len(r["text"]))
    return {
        (src, label): (len(ls), _truth(ls, num, den))
        for src, ls in by_src.items()
        for num, den, label in PROBS
    }


def test_ground_truth_skewed_with_ties(spark, tmp_path):
    # Heavy tie mass (half the docs share one length) + a long Zipfy tail:
    # the exact answer must match a plain python sort at every prob.
    rng = random.Random(5)
    lengths = [120] * 500 + [int(10 / rng.random()) for _ in range(500)]
    rows = [
        {"doc_id": i, "text": "x" * n, "source": "s"}
        for i, n in enumerate(lengths)
    ]
    got, _ = _refine(spark, _write(tmp_path, rows))
    for num, den, label in PROBS:
        assert got[("s", label)] == (1000, _truth(lengths, num, den)), label


def test_pass_count_bound(spark, tmp_path):
    # Range fits in one bucket split twice: ceil(log_256(range)) passes.
    rng = random.Random(9)
    rows = [
        {"doc_id": i, "text": "x" * rng.randrange(1, 70_000), "source": "s"}
        for i in range(400)
    ]
    _, n_passes = _refine(spark, _write(tmp_path, rows))
    # value range < 256^2 = 65536 + slack: at most 3 passes (width rounding
    # can cost one extra), never the row-count-dependent naive behavior.
    assert n_passes <= 3


def test_all_equal_answers_in_zero_passes(spark, tmp_path):
    rows = [{"doc_id": i, "text": "abc", "source": "s"} for i in range(50)]
    got, n_passes = _refine(spark, _write(tmp_path, rows))
    assert n_passes == 0
    assert all(value == 3 for _n, value in got.values())


def test_per_pass_plan_broadcasts_targets(spark, tmp_path):
    # The per-pass count frame must broadcast the tiny target table — the
    # big side never shuffles rows, only <= |targets| * N_BUCKETS partials.
    rows = [{"doc_id": i, "text": "x" * (i + 1), "source": "s"} for i in range(300)]
    d = _write(tmp_path, rows)
    vals = spark.read.parquet(d + "/documents.parquet").select(
        "source", F.length("text").cast("long").alias("v")
    )
    tdf = spark.createDataFrame(
        [(0, "s", 1, 300, 2)], "tid INT, source STRING, lo BIGINT, hi BIGINT, width BIGINT"
    )
    frame = (
        vals.join(F.broadcast(tdf), "source")
        .where((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .groupBy("tid", F.expr("(v - lo) DIV width").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    frame.collect()
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_null_values_and_null_keys_excluded(spark, tmp_path):
    # Review finding: NULL text counted in n but absent from the histogram
    # made the loop emit the MINIMUM; NULL source keys crashed the driver.
    rows = [
        {"doc_id": i, "text": "x" * (i + 1), "source": "s"} for i in range(9)
    ]
    rows.append({"doc_id": 9, "text": None, "source": "s"})
    rows.append({"doc_id": 10, "text": "zzz", "source": None})
    got, _ = _refine(spark, _write(tmp_path, rows))
    # only the 9 non-null 's' rows count: lengths 1..9
    assert got[("s", "p99")] == (9, 9)
    assert got[("s", "p50")] == (9, 5)
    assert len(got) == 3  # the null-source group is dropped, not crashed


def test_corpus_ground_truth(spark):
    import pandas as pd

    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["source", "text"])
    rows = pdf.to_dict("records")
    got, _ = _refine(spark, SF_DIR)
    assert got == _truth_by_source(rows)
    assert len(got) >= len(PROBS)  # at least one source x |PROBS|


def test_multi_source_ground_truth_random(spark, tmp_path):
    rng = random.Random(21)
    rows = []
    for src in ["a", "b", "c"]:
        for i in range(rng.randrange(40, 160)):
            rows.append(
                {
                    "doc_id": len(rows),
                    "text": "y" * rng.randrange(1, 5000),
                    "source": src,
                }
            )
    got, _ = _refine(spark, _write(tmp_path, rows))
    assert got == _truth_by_source(rows)
