"""The flagship plan: transcripts → per-turn main content + reconstructed tables.

Shape of the plan (designed for 10^12 turns):

* ``clean_turns`` — 100% native Column expressions (whole-stage codegen, no
  Python): boilerplate strip + table count per turn.  A 2-column projection
  reaches the parquet scan; no shuffle at all.
* ``extract_tables`` — a cheap codegen'd ``contains('<table')`` pre-filter,
  then ONE Arrow-batched ``mapInPandas`` stage running the per-table
  reconstruction kernel (:func:`core.pipeline.process_table_html`).  The
  stage is narrow — per-turn work, no shuffle, no groupBy — so conversation
  skew cannot concentrate load: partitioning follows input splits, not
  conv_id.  Only an explicit final ``orderBy`` (optional, for stable output)
  shuffles, and AQE handles its skew.
* ``extract_turns`` — the same stage and kernel loop without the pre-filter:
  text that fails it is nulled instead, and each task ends with one count
  row ``(bucket, n_turns, n_tables)`` per bucket it read, so the lineage
  write can count turns and tables in its only stage.

Column pruning is done MANUALLY before the UDF (select exactly
conv_id/turn_idx/text, plus bucket for ``extract_turns``) because Catalyst cannot prune through an opaque
``mapInPandas`` (SURVEY.md §4).

The kernel's first step in a worker stops the worker from re-reading the
unchanged zip archives on its import path before each later task
(:func:`_skip_unchanged_zip_rereads`), so a reused worker's task costs its
batches, not ~0.2 s of import-cache refresh.
"""

from __future__ import annotations

import os
import zipimport
import zlib
from collections import Counter
from functools import partial
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.html_parse import find_table_fragments
from ..core.pipeline import empty_table_result, process_table_html
from ..functions.text import (
    has_table_col,
    n_tables_col,
    strip_boilerplate_col,
    strip_tables_col,
)

__all__ = [
    "clean_turns",
    "extract_tables",
    "extract_turns",
    "extract_cells",
    "extract_transcripts",
    "TABLES_SCHEMA",
]

TABLES_SCHEMA = (
    "conv_id string, turn_idx int, table_idx int, table_kind string, "
    "pred_html string, cell_bboxes array<array<double>>, "
    "logic_points array<array<int>>, n_cells int, error string"
)


def clean_turns(df: DataFrame) -> DataFrame:
    """Per-turn main content, fully JVM-side (no Python in this plan)."""
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        strip_boilerplate_col(strip_tables_col(F.col("text"))).alias("main_text"),
        n_tables_col(F.col("text")).alias("n_tables"),
    )


def _table_seed(conv_id: str, turn_idx: int, table_idx: int) -> int:
    return zlib.crc32(f"{conv_id}|{turn_idx}|{table_idx}".encode())


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive's ``(st_mtime_ns, st_size)`` changed since the
    importer last read it; idempotent.

    A Python worker calls ``importlib.invalidate_caches()`` before every
    task, and CPython re-reads the whole central directory of every zip on
    the import path there, once per importer (one per imported subpackage):
    ``pyspark.zip``, the py4j zip, the Spark core jar, a ``--py-files`` zip.
    That cost ~0.2 s per task in a reused worker, more than the kernel of a
    small task.  The first call per importer, and any call where the stat
    fails, re-reads as before, so an archive that changes (a re-shipped
    ``--py-files`` zip) is still re-read.  Called in the worker, by the
    kernel, so only the worker process is patched.
    """
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or getattr(self, "_read_stat", None) != key:
            reread(self)
            self._read_stat = key

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches


# the kernel's per-table output columns
_RESULT = ("table_kind", "pred_html", "cell_bboxes", "logic_points", "n_cells")
# extract_turns' rows: table rows with their bucket, and count rows
_COUNTED_SCHEMA = TABLES_SCHEMA + ", bucket int, n_turns long, n_tables long"


def _extract_batch(
    batches: Iterator[pd.DataFrame], counted: bool = False
) -> Iterator[pd.DataFrame]:
    """Table rows of each turn (a null text has none).  With ``counted``
    the input and the table rows carry ``bucket``, and after the last batch
    one count row per bucket seen follows: ``(bucket, n_turns, n_tables)``
    with every other column null, counting the turns this task read and the
    table rows it emitted."""
    _skip_unchanged_zip_rereads()
    keys = ("conv_id", "turn_idx", "bucket") if counted else ("conv_id", "turn_idx")
    table_names = [*keys, "table_idx", *_RESULT, "error"]
    names = table_names + ["n_turns", "n_tables"] if counted else table_names
    n_turns: Counter = Counter()
    n_tables: Counter = Counter()

    def frame(cols):
        n = len(next(iter(cols.values())))
        return pd.DataFrame({k: cols[k] if k in cols else [None] * n for k in names})

    for pdf in batches:
        cols = {k: [] for k in table_names}
        for *key, text in zip(*(pdf[k] for k in keys), pdf["text"]):
            frags = find_table_fragments(text) if text is not None else []
            if counted:
                n_turns[key[2]] += 1
                n_tables[key[2]] += len(frags)
            for ti, (_, _, html) in enumerate(frags):
                # per-table degradation, as the reference degrades per image
                # (ref lineless_table_rec/main.py:132-134) — one poisoned
                # fragment must not fail a 10^12-turn job; the error column
                # feeds the lineage/metrics tables
                try:
                    res = process_table_html(html, _table_seed(key[0], key[1], ti))
                    err = None
                except Exception as exc:  # noqa: BLE001 - deliberate catch-all
                    res = empty_table_result("error")
                    err = f"{type(exc).__name__}: {exc}"[:500]
                for k, v in zip(keys, key):
                    cols[k].append(v)
                cols["table_idx"].append(ti)
                for k in _RESULT:
                    cols[k].append(res[k])
                cols["error"].append(err)
        if cols["table_idx"]:
            yield frame(cols)
    if n_turns:
        buckets = list(n_turns)
        yield frame({
            "bucket": buckets,
            "n_turns": [n_turns[b] for b in buckets],
            "n_tables": [n_tables[b] for b in buckets],
        })


def extract_tables(df: DataFrame) -> DataFrame:
    """One row per reconstructed table, keyed (conv_id, turn_idx, table_idx)."""
    src = df.where(has_table_col(F.col("text"))).select("conv_id", "turn_idx", "text")
    return src.mapInPandas(_extract_batch, schema=TABLES_SCHEMA)


def extract_turns(df: DataFrame) -> DataFrame:
    """The table rows of ``df``, which carries ``bucket``, each with its
    bucket; then, from each task, one count row per bucket it read:
    ``(bucket, n_turns, n_tables)`` with a null ``table_idx``, the task's
    turns of that bucket and the table rows it emitted for them.  So the
    count rows of a bucket sum to its input turns and its table rows, at
    most one row per task and bucket, however many turns are table-free.
    No prefilter: the text is nulled instead, so a table-free turn sends
    only its keys through Arrow and still counts."""
    text = F.when(has_table_col(F.col("text")), F.col("text")).alias("text")
    src = df.select("conv_id", "turn_idx", text, "bucket")
    return src.mapInPandas(partial(_extract_batch, counted=True), schema=_COUNTED_SCHEMA)


def extract_cells(df: DataFrame) -> DataFrame:
    """Per-cell structured spans: one row per (turn, table, cell).

    A NATIVE posexplode over the arrays ``extract_tables`` already produced —
    no extra Python stage; Catalyst keeps it in the same job.
    """
    tables = extract_tables(df)
    z = F.posexplode(F.arrays_zip("cell_bboxes", "logic_points"))
    return tables.select(
        "conv_id", "turn_idx", "table_idx", "table_kind", z.alias("cell_id", "c")
    ).select(
        "conv_id",
        "turn_idx",
        "table_idx",
        "table_kind",
        F.col("cell_id").cast("int").alias("cell_id"),
        F.col("c.cell_bboxes")[0].alias("xmin"),
        F.col("c.cell_bboxes")[1].alias("ymin"),
        F.col("c.cell_bboxes")[4].alias("xmax"),
        F.col("c.cell_bboxes")[5].alias("ymax"),
        F.col("c.logic_points")[0].alias("row_start"),
        F.col("c.logic_points")[1].alias("row_end"),
        F.col("c.logic_points")[2].alias("col_start"),
        F.col("c.logic_points")[3].alias("col_end"),
    )


def extract_transcripts(df: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """(clean turns, reconstructed tables) for a transcripts DataFrame."""
    return clean_turns(df), extract_tables(df)
