#!/usr/bin/env python
"""Routing demo — the engine analogue of the reference's demo_all.py
(/root/reference/demo_all.py:7-30): classify each embedded table, route to
the wired or wireless reconstruction path, print the rebuilt HTML + spans.

The reference classifies an IMAGE with an ONNX model and runs RapidOCR; in
this graft the payload is a transcript turn's text, the classifier is the
deterministic structural router, and the "OCR result" is the parsed cell
text (SURVEY.md §1).  Run:  PYTHONPATH=. python examples/demo_all.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tablestructurerec_spark.core.html_parse import find_table_fragments
from tablestructurerec_spark.core.pipeline import process_table_html
from tablestructurerec_spark.sources.synthetic import _rows_for_conv

if __name__ == "__main__":
    turns = _rows_for_conv(seed=42, conv=7, mean_turns=6)
    for turn_idx, text in enumerate(turns["text"]):
        for table_idx, (_s, _e, html) in enumerate(find_table_fragments(text)):
            out = process_table_html(html, table_seed=0)
            print(f"turn {turn_idx} table {table_idx}: kind={out['table_kind']} "
                  f"cells={out['n_cells']}")
            print("  pred_html:", out["pred_html"][:120], "...")
            print("  logic_points[:3]:", out["logic_points"][:3])
