"""Tests of the benchmark itself: generator, oracle, and the result contract.

    python3 -m pytest perfbench -q

The last tests run the benchmark at a tiny scale through its command line
(a Spark session per run, so they take a few minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from oracle import check_output  # noqa: E402
from workloads import WORKLOADS, generate, render_table  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _write_output(out_dir, tables, main):
    """A job's output as the oracle reads it: tables and main text parquet."""
    os.makedirs(f"{out_dir}/tables")
    os.makedirs(f"{out_dir}/main_text")
    rows = {"conv_id": [], "turn_idx": [], "table_idx": [], "pred_html": [], "error": []}
    for (conv_id, turn_idx, table_idx), html in tables.items():
        rows["conv_id"].append(conv_id)
        rows["turn_idx"].append(turn_idx)
        rows["table_idx"].append(table_idx)
        rows["pred_html"].append(html or "<html><body><table></table></body></html>")
        rows["error"].append(None if html is not None else "ValueError: table grid too large")
    pq.write_table(pa.table(rows), f"{out_dir}/tables/part-0.parquet")
    turns = {"conv_id": [], "turn_idx": [], "main_text": []}
    for (conv_id, turn_idx), text in main.items():
        turns["conv_id"].append(conv_id)
        turns["turn_idx"].append(turn_idx)
        turns["main_text"].append(text)
    pq.write_table(pa.table(turns), f"{out_dir}/main_text/part-0.parquet")


@pytest.mark.parametrize("name", WORKLOADS)
def test_generator_is_deterministic_per_seed(name):
    a, b, c = generate(name, 5, 0.05), generate(name, 5, 0.05), generate(name, 6, 0.05)
    assert a.columns == b.columns and a.tables == b.tables and a.main == b.main
    assert a.columns["text"] != c.columns["text"]
    assert a.shape()["tables"] > 0


@pytest.mark.parametrize("name", WORKLOADS)
def test_main_text_oracle_is_the_package_strip(name):
    """The oracle's main text, known by construction, is the package's
    Python strip of the turn with its tables removed."""
    from tablestructurerec_spark.core.html_parse import TABLE_RE, strip_boilerplate

    w = generate(name, 3, 0.05)
    cols = w.columns
    for conv_id, turn_idx, text in zip(cols["conv_id"], cols["turn_idx"], cols["text"]):
        assert w.main[(conv_id, turn_idx)] == strip_boilerplate(TABLE_RE.sub(" ", text))


def test_table_oracle_grammar_matches_the_package_renderer():
    """The benchmark's copy of the table grammar renders what the package's
    renderer does, so the oracle holds the output the kernel must return."""
    import random

    from tablestructurerec_spark.core.html_render import render_table_html
    from workloads import _grid_fixture

    rng = random.Random(0)
    for _ in range(300):
        logic, texts = _grid_fixture(rng, (1, 12), (1, 8), 3)
        assert render_table(logic, texts) == render_table_html(logic, dict(enumerate(texts)))


def test_hostile_fragments_are_expected_as_errors():
    w = generate("large_grids_hostile", 1, 0.05)
    hostile = [k for k, html in w.tables.items() if html is None]
    assert len(hostile) == 4
    assert len({k[:2] for k in hostile}) == 4


def test_oracle_accepts_exact_output_and_rejects_one_corrupted_cell(tmp_path):
    w = generate("large_grids_hostile", 2, 0.05)
    good = check_output_of(tmp_path / "good", w.tables, w.main, w)
    assert good.mismatches == 0
    assert good.checked == len(w.tables) + len(w.main)
    assert good.error_rows == 4

    key = next(k for k, html in w.tables.items() if html and "colspan=1>" in html)
    html = w.tables[key]
    cut = html.index("colspan=1>") + len("colspan=1>")
    corrupted = dict(w.tables)
    corrupted[key] = html[:cut] + "X" + html[cut + 1:]
    bad = check_output_of(tmp_path / "bad", corrupted, w.main, w)
    assert bad.mismatches == 1 and "html differs" in bad.examples[0]


def test_oracle_rejects_missing_extra_and_unrejected_hostile_rows(tmp_path):
    w = generate("large_grids_hostile", 2, 0.05)
    tables = dict(w.tables)
    first = next(iter(tables))
    del tables[first]
    tables[("conv-99999999", 0, 0)] = "<html><body><table></table></body></html>"
    hostile = next(k for k, html in tables.items() if html is None)
    tables[hostile] = "<html><body><table></table></body></html>"
    main = dict(w.main)
    main.pop(next(iter(main)))
    res = check_output_of(tmp_path / "out", tables, main, w)
    assert res.mismatches == 4
    text = " ".join(res.examples)
    for what in ("missing table", "extra table", "returned a table", "missing turn"):
        assert what in text


def check_output_of(out_dir, tables, main, w):
    _write_output(str(out_dir), tables, main)
    return check_output(w, str(out_dir))


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run fails without
    printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "flagship_mix", "--seed", "1", "--seconds", "1"], cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("name", WORKLOADS)
def test_tiny_run_prints_every_metric(name, trace):
    p = _run(["--workload", name, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--scale", "0.03"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    if trace:
        span_file = json.loads(lines[-2])["details"]["span_file"]
        import gzip

        with gzip.open(os.path.join(ROOT, span_file), "rt") as fh:
            records = [json.loads(line) for line in fh]
        spans, tail = records[:-1], records[-1]
        assert "counts" in tail
        ids = {s["id"] for s in spans}
        assert all(s["parent"] is None or s["parent"] in ids for s in spans)
        assert all(s["end"] >= s["start"] for s in spans)
        assert {"run", "setup", "core.pipeline.process_table_html"} <= {s["name"] for s in spans}
