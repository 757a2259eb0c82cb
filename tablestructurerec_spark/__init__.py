"""tablestructurerec_spark — a PySpark-native table-structure extraction engine.

A brand-new engine with the query / data-processing capabilities of
RapidAI/TableStructureRec, re-expressed Spark-first: the reference's
single-image pre/post-processing heuristics (cell-box sorting, logical
row/col assignment, OCR↔cell matching, HTML-table reconstruction) become
vectorized pandas/Arrow UDF stages and native DataFrame operators over an
Iceberg/parquet table of multi-turn transcripts
``(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)``.

Layout
------
core/       pure-python/numpy semantics kernels (run inside Arrow UDFs; no Spark dep)
operators/  native DataFrame/Column operators (sessionization, dedup, topk, joins, ...)
functions/  column-expression helpers (geometry predicates, text stats, hashing)
sources/    readers/sinks (transcripts parquet/iceberg-style, synthetic generator)
plans/      end-to-end pipelines (the extraction "query plans")
inference/  batched ONNX harness plumbing with deterministic stub backend

Nothing here is a port of the reference's code; semantics parity is pinned by
golden tests copied from the reference's own unit-test *literals*
(tests/test_lineless_table_rec.py etc. in /root/reference).
"""

__version__ = "0.1.0"
