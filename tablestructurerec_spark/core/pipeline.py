"""Per-table orchestration: the reference's O1/O2 query plans, re-expressed.

``process_table_html`` runs ONE embedded table through the full
reconstruction pipeline the reference applies to one image:

  parse → detector stand-in (quads) → classifier routing (wired/wireless)
  → logical coordinates (wired: TableRecover heuristics; wireless: LORE
  stand-in + snap/round) → OCR stand-in fragments → OCR↔cell theta-join →
  blank backfill → intermediate records → duplicate-box dedup → grid merge
  (wireless only, as in the reference) → per-cell reading-order sort +
  row gather → HTML render.

Orchestration contracts: lineless_table_rec/main.py:70-135 (O1) and
wired_table_rec/main.py:78-138 (O2) — O2 skips dedup/grid-merge, O1 runs
both; per-cell sort+gather uses threshold 0.3 in both (ref main.py:188-197).

This module is pure python/numpy: it executes inside Arrow-batched
``mapInPandas`` stages (one call per turn-table, thousands per batch) and in
unit tests without Spark.
"""

from __future__ import annotations

import random
from typing import Dict, List, Tuple

import numpy as np

from .geometry import (
    duplicate_box_indices,
    gather_ocr_rows,
    match_ocr_to_cells,
    reading_order,
)
from .html_parse import parse_table_html, quads_from_logic_points
from .html_render import (
    backfill_empty_cells,
    cell_records_from_match,
    merge_grid_duplicates,
    render_table_html,
)
from .lore_post import snap_and_round_logic
from .recover import recover_logic_points

__all__ = [
    "process_table_html",
    "classify_table_kind",
    "empty_table_result",
    "synth_ocr_fragments",
]

_CHAR_W = 5.0
_SPLIT_W = 40.0


def empty_table_result(table_kind: str) -> Dict[str, object]:
    """The output of a table with no cells (``"error"`` for a table the
    kernel rejected)."""
    return {
        "pred_html": "<html><body><table></table></body></html>",
        "cell_bboxes": [],
        "logic_points": [],
        "table_kind": table_kind,
        "n_cells": 0,
    }


def classify_table_kind(logic_points: List[List[int]]) -> str:
    """Route a table to the wired or wireless reconstruction path.

    Stand-in for the reference's image classifier (table_cls/main.py:30-161):
    route to the wired (geometry-only, ruling-line) path exactly when the
    ruling geometry fully determines the logical structure — i.e. the
    TableRecover heuristics reproduce the parsed spans.  Necessary
    pre-condition checked first (cheap): every grid row and column hosts at
    least one span origin, else that boundary is invisible to the benchmark
    pass (ref table_recover.py:67-132).  Then the recovery itself is the
    classifier — deterministic and runtime-computable, since in this graft
    the quads derive from the parsed grid.
    """
    if not logic_points:
        return "wireless"
    n_rows, n_cols = _grid_extent(logic_points)
    quads = quads_from_logic_points(logic_points)
    return _classify_and_recover(logic_points, n_rows, n_cols, quads)[0]


def _grid_extent(logic_points: List[List[int]]) -> Tuple[int, int]:
    return (
        max(lp[1] for lp in logic_points) + 1,
        max(lp[3] for lp in logic_points) + 1,
    )


def _classify_and_recover(
    logic_points: List[List[int]], n_rows: int, n_cols: int, ccw_quads: list
):
    """(kind, recovered logic or None) for a non-empty grid of ``n_rows`` x
    ``n_cols`` whose detector quads are ``ccw_quads``."""
    if (
        len({lp[0] for lp in logic_points}) < n_rows
        or len({lp[2] for lp in logic_points}) < n_cols
    ):
        return "wireless", None
    recovered = recover_logic_points(np.asarray(ccw_quads, dtype=float))
    if recovered.tolist() != [list(map(int, lp)) for lp in logic_points]:
        return "wireless", None
    return "wired", recovered


def synth_ocr_fragments(
    quads: List[List[List[float]]], cell_texts: List[List[str]]
) -> List[list]:
    """Deterministic OCR stand-in: per cell, one fragment per text line.

    Multi-word lines split into two x-adjacent fragments with a 10px gap so
    the row-gather stage's ``int(gap/10)``-space padding (ref
    utils_table_recover.py:292-294) is exercised for real: the gather must
    re-join them with exactly one space to reproduce the line.
    Fragment quads are clockwise [tl, tr, br, bl] with 2px insets so each
    fragment is contained in exactly one cell.
    """
    frags: List[list] = []
    for quad, texts in zip(quads, cell_texts):
        x0, y0 = quad[0]
        x1, y1 = quad[2]
        n_lines = max(len(texts), 1)
        band_h = (y1 - y0) / n_lines
        for li, line in enumerate(texts):
            fy0 = y0 + li * band_h + 2
            fy1 = y0 + (li + 1) * band_h - 2
            words = line.split(" ")
            if len(words) >= 2 and (x1 - x0) > _SPLIT_W + 24:
                head = " ".join(words[:1])
                tail = " ".join(words[1:])
                hx1 = x0 + 2 + _SPLIT_W
                frags.append(
                    [[[x0 + 2, fy0], [hx1, fy0], [hx1, fy1], [x0 + 2, fy1]], head, 1.0]
                )
                tx0 = hx1 + 10  # int(10/10) == 1 space re-inserted by gather
                frags.append(
                    [[[tx0, fy0], [x1 - 2, fy0], [x1 - 2, fy1], [tx0, fy1]], tail, 1.0]
                )
            else:
                frags.append(
                    [[[x0 + 2, fy0], [x1 - 2, fy0], [x1 - 2, fy1], [x0 + 2, fy1]], line, 1.0]
                )
    return frags


def _lore_logic_standin(logic_points: List[List[int]], table_seed: int) -> np.ndarray:
    """Wireless 'model' stand-in: parsed spans + deterministic sub-0.1 noise,
    then the reference's snap/round postprocess (ref
    table_structure_lore.py:78-92) recovers the exact integers — same code
    path a real ONNX head would feed."""
    rng = random.Random(table_seed)
    raw = np.asarray(logic_points, dtype=np.float64)
    noise = np.array(
        [[rng.uniform(-0.09, 0.09) for _ in range(4)] for _ in range(len(logic_points))]
    )
    return snap_and_round_logic(raw + noise)


def _sort_and_gather_cell(ocr_rows: list) -> list:
    """Per-cell reading-order sort + same-row gather (ref main.py:188-197,
    threshold 0.3 on both stages)."""
    boxes = [r[0] for r in ocr_rows]
    _, order = reading_order(boxes, threshold=0.3)
    rows = [ocr_rows[k] for k in order]
    return gather_ocr_rows(rows, threshold=0.3)


def process_table_html(html: str, table_seed: int = 0) -> Dict[str, object]:
    """Full single-table reconstruction; returns the reference's output tuple.

    Returns dict with ``pred_html`` (str), ``cell_bboxes`` ((N,8) float list,
    clockwise flattened quads as in ref main.py:129), ``logic_points``
    ((N,4) int list), ``table_kind``, ``n_cells``.  A fragment that parses to
    nothing yields the empty table (the reference degrades to an empty
    output, ref main.py:132-134).
    """
    parsed_logic, parsed_texts = parse_table_html(html)
    if not parsed_logic:
        return empty_table_result("wireless")
    # grid fill / render are O(rows x cols): bound hostile span claims
    # (the Spark stage degrades this to an error row, preserving the job)
    n_rows, n_cols = _grid_extent(parsed_logic)
    if n_rows * n_cols > 250_000:
        raise ValueError(f"table grid too large: {n_rows}x{n_cols}")

    # detector stand-in: ccw physical quads from the logical grid
    ccw_quads = quads_from_logic_points(parsed_logic)
    kind, recovered = _classify_and_recover(parsed_logic, n_rows, n_cols, ccw_quads)
    if kind == "wired":
        logic = recovered
    else:
        logic = _lore_logic_standin(parsed_logic, table_seed)

    # ccw → cw corner swap to align with the matching convention
    # (ref wired_table_rec/main.py:102-106)
    cw_quads = [[q[0], q[3], q[2], q[1]] for q in ccw_quads]

    ocr = synth_ocr_fragments(cw_quads, parsed_texts)
    matched, _ = match_ocr_to_cells(ocr, cw_quads)
    matched = backfill_empty_cells(cw_quads, matched)
    records = cell_records_from_match(matched, logic, len(cw_quads))

    if kind == "wireless":
        drop = duplicate_box_indices([rec["t_box"] for rec in records])
        records = [records[i] for i in range(len(records)) if i not in drop]
        records = merge_grid_duplicates(records)

    for rec in records:
        rec["t_ocr_res"] = _sort_and_gather_cell(rec["t_ocr_res"])

    # plain ints: the recovered boxes hold numpy scalars, whose arithmetic
    # in the render costs several times an int's
    logic_out = [list(map(int, rec["t_logic_box"])) for rec in records]
    texts_out = {i: [r[1] for r in rec["t_ocr_res"]] for i, rec in enumerate(records)}
    pred_html = render_table_html(logic_out, texts_out)

    bboxes = []
    for rec in records:
        x0, y0, x1, y1 = rec["t_box"]
        bboxes.append([x0, y0, x1, y0, x1, y1, x0, y1])
    return {
        "pred_html": pred_html,
        "cell_bboxes": bboxes,
        "logic_points": logic_out,
        "table_kind": kind,
        "n_cells": len(records),
    }
