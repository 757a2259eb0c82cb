"""Logical row/col coordinate assignment for wired tables ("TableRecover").

From-scratch reproduction of the reference heuristics in
``wired_table_rec/table_recover.py``:

* row clustering by sorted-diff sessionization         (ref :38-65)
* benchmark column boundaries from the longest row     (ref :67-114)
* benchmark row heights from leftmost cells            (ref :116-132)
* span assignment against cumulative widths/heights    (ref :138-217)

Input quads are counter-clockwise 4x2: [top-left, bottom-left, bottom-right,
top-right] — the orientation the reference's segmentation stage emits before
the cw swap at wired_table_rec/main.py:103-106.

The span-assignment pass is inherently sequential per row (col_start depends
on the running sum of previous spans, ref :157-159), so in Spark this kernel
runs per-table inside the extraction ``mapInPandas``; the per-table cell
counts are tiny.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

import numpy as np

__all__ = ["cluster_rows", "recover_logic_points"]

_ROW_GAP = 10
_COL_SNAP = 15
_SPAN_SNAP = 10


def _l2(p: np.ndarray, q: np.ndarray) -> float:
    # scalar sqrt(dx*dx + dy*dy): the same double-precision operations as
    # np.linalg.norm on a 2-vector (ref compute_L2, table_recover.py:134-136)
    # without per-call numpy dispatch — _l2 runs 6x per cell in the span
    # fitting loops (cross-exec-pinned vs the reference's TableRecover)
    dx = float(q[0]) - float(p[0])
    dy = float(q[1]) - float(p[1])
    return math.sqrt(dx * dx + dy * dy)


def cluster_rows(quads: np.ndarray, row_gap: float = _ROW_GAP) -> Dict[int, List[int]]:
    """Group cell indices into physical rows by top-left-y jump sessionization.

    Contract (ref table_recover.py:38-65): consecutive cells (input order)
    start a new row when |Δ top-left y| > ``row_gap``.  Input order is trusted
    to be reading order.
    """
    ys = np.asarray([q[0][1] for q in quads], dtype=float)
    n = ys.size
    if n == 1:
        return {0: [0]}
    jumps = np.flatnonzero(np.abs(ys[1:] - ys[:-1]) > row_gap)
    if jumps.size == 0:
        return {0: list(range(n))}
    bounds = np.append(jumps, n - 1)
    rows: Dict[int, List[int]] = {}
    start = 0
    for row_num, end in enumerate(bounds):
        rows[row_num] = list(range(start, int(end) + 1))
        start = int(end) + 1
    return rows


def _benchmark_cols(
    rows: Dict[int, List[int]], quads: np.ndarray, col_snap: float
) -> Tuple[np.ndarray, List[float], int]:
    """Global sorted column x-boundaries seeded from the longest row.

    Contract (ref table_recover.py:67-114): start from the longest row's cell
    start-x list; walk every cell's start and end x through an ordered-insert
    that skips values within ±``col_snap`` of an existing boundary; end-x
    values may extend ``max_x`` but are never appended as boundaries
    (``insert_last=False`` in the reference).
    """
    longest = max(rows.values(), key=len)
    bounds: List[float] = [float(quads[i][0][0]) for i in longest]
    min_x = bounds[0]
    max_x = float(quads[longest[-1]][2][0])

    def absorb(v: float, allow_append: bool) -> None:
        nonlocal min_x, max_x
        for i, b in enumerate(bounds):
            if v - col_snap <= b <= v + col_snap:
                break
            if v < min_x:
                bounds.insert(0, v)
                min_x = v
                break
            if v > max_x:
                if allow_append:
                    bounds.append(v)
                max_x = v
                break
            if v < b:
                bounds.insert(i, v)
                break

    for members in rows.values():
        for i in members:
            absorb(float(quads[i][0][0]), True)
            absorb(float(quads[i][2][0]), False)

    arr = np.asarray(bounds)
    widths = (arr[1:] - arr[:-1]).tolist()
    widths.append(max_x - arr[-1])
    return arr, widths, arr.shape[0]


def _benchmark_rows(
    rows: Dict[int, List[int]], quads: np.ndarray
) -> Tuple[List[float], int]:
    """Row heights from each row's leftmost cell (ref table_recover.py:116-132).

    The last row's height is the max top-left→bottom-left edge length among
    its cells.
    """
    lead = [members[0] for members in rows.values()]
    tops = np.asarray([quads[i][0][1] for i in lead], dtype=float)
    heights = (tops[1:] - tops[:-1]).tolist()
    bottom = list(rows.values())[-1]
    heights.append(max(_l2(quads[i][1], quads[i][0]) for i in bottom))
    return heights, tops.shape[0]


def _fit_span(extent: float, sizes: List[float], start: int, total: int) -> int:
    """How many benchmark slots ``extent`` covers starting at ``start``.

    Contract (ref table_recover.py:162-206): accumulate slot sizes; accept on
    |cumsum − extent| ≤ snap; if the very first slot already overshoots,
    span=1; on later overshoot pick whichever of i/i−1 ends nearer to the
    extent; if the extent outruns all slots, span to the end.
    """
    for i in range(start, total):
        cum = sum(sizes[start : i + 1])
        if i == start and cum > extent:
            return 1
        if abs(cum - extent) <= _SPAN_SNAP:
            return i + 1 - start
        if cum > extent:
            pick = i if abs(cum - extent) < abs(cum - sizes[i] - extent) else i - 1
            return pick + 1 - start
    return total - start


def recover_logic_points(
    quads: np.ndarray, row_gap: float = _ROW_GAP, col_snap: float = _COL_SNAP
) -> np.ndarray:
    """Assign ``[row_start, row_end, col_start, col_end]`` to every cell quad.

    Orchestration contract: ref table_recover.py:15-35 + :138-217.  The
    column start is ``max(running span sum of this row, nearest benchmark
    boundary to the cell's left edge)`` (ref :157-159) — sequential per row.
    Returns an ``(N, 4) int32`` array indexed like the input.
    """
    quads = np.asarray(quads, dtype=float)
    rows = cluster_rows(quads, row_gap)
    bounds, widths, n_cols = _benchmark_cols(rows, quads, col_snap)
    heights, n_rows = _benchmark_rows(rows, quads)

    logic = np.zeros((len(quads), 4), dtype=np.int32)
    for row_num, members in rows.items():
        span_sum = 0  # running sum of spans already assigned in this row
        for idx in members:
            q = quads[idx]
            width = _l2(q[3], q[0])
            nearest = int(np.argmin(np.abs(bounds - q[0][0])))
            col_start = max(span_sum, nearest)
            col_span = _fit_span(width, widths, col_start, n_cols)
            span_sum += col_span
            height = _l2(q[1], q[0])
            row_span = _fit_span(height, heights, row_num, n_rows)
            logic[idx] = (row_num, row_num + row_span - 1, col_start, col_start + col_span - 1)
    return logic
