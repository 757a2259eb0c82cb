"""Logical-grid assembly and HTML rendering.

Reproduces (from scratch) the reference's table-reconstruction tail:
* grid merge of duplicate logical cells  — ref lineless_table_rec/main.py:199-238
* per-cell envelope/intermediate record  — ref lineless_table_rec/main.py:137-164
* blank-cell backfill                    — ref lineless_table_rec/main.py:240-253
* HTML rendering with span elision rules — ref utils_table_recover.py:409-475
* full-document wrapper                  — ref utils_table_recover.py:579-605

Golden-pinned by the 9 exact-HTML cases in the reference's
tests/test_lineless_table_rec.py:197-256 (twin test_wired_table_rec.py:247-306).
"""

from __future__ import annotations

from itertools import groupby
from typing import Dict, List, Optional, Sequence

from .geometry import quad_to_box

__all__ = [
    "render_table_html",
    "merge_grid_duplicates",
    "cell_records_from_match",
    "backfill_empty_cells",
]


def render_table_html(
    logic_points: Sequence[Sequence[int]], cell_texts: Dict[int, List[str]]
) -> str:
    """Render ``<html><body><table>...`` from logical spans + cell text lists.

    Contract (ref utils_table_recover.py:409-475), reproduced exactly —
    including its asymmetries, which the goldens pin:
    * the valid window is derived only from cells whose joined text is
      non-empty: rows **above** the first valid row are skipped but trailing
      rows are all kept; columns are clipped on **both** sides;
    * an empty grid slot renders ``<td></td>``;
    * a slot covered by a cell with no text entry renders **nothing at all**
      (no ``<td>``), silently narrowing that row;
    * a covered slot renders its cell only at the span origin, as
      ``<td rowspan=R colspan=C>`` with ``<br>``-joined text lines;
    * later cells overwrite earlier ones in overlapping grid slots.
    """
    n_rows = 0
    n_cols = 0
    first_valid_row = (1 << 16) - 1
    first_valid_col = (1 << 16) - 1
    last_valid_col = 0
    for idx, (r0, r1, c0, c1) in enumerate(logic_points):
        if r1 >= n_rows:
            n_rows = r1 + 1
        if c1 >= n_cols:
            n_cols = c1 + 1
        texts = cell_texts.get(idx)
        if texts and "".join(texts):
            if r0 < first_valid_row:
                first_valid_row = r0
            if c0 < first_valid_col:
                first_valid_col = c0
            if c1 > last_valid_col:
                last_valid_col = c1

    # A cell is (a, b, idx, r0, r1, td): its columns clipped to the window
    # as half-open offsets, its index (the overwrite order), its rows, and
    # the tag its origin slot renders ("" when it renders nothing: no text
    # entry, or its origin left of the window).  Each row walks the cells
    # covering it in column order and emits a gap or a cell's whole run in
    # one step, so the Python work is per cell, not per slot.
    lo = first_valid_col
    width = last_valid_col - lo + 1
    active: List[tuple] = []  # cells covering the current row, by column
    opening: Dict[int, List[tuple]] = {}
    for idx, (r0, r1, c0, c1) in enumerate(logic_points):
        a = c0 - lo if c0 > lo else 0
        b = c1 - lo + 1 if c1 - lo < width else width
        if r1 < first_valid_row or a >= b:
            continue
        texts = cell_texts.get(idx)
        td = ""
        if texts and c0 >= lo:
            body = "<br>".join(texts)
            td = f"<td rowspan={r1 - r0 + 1} colspan={c1 - c0 + 1}>{body}</td>"
        cell = (a, b, idx, r0, r1, td)
        if r0 <= first_valid_row:
            active.append(cell)
        else:
            opening.setdefault(r0, []).append(cell)

    out = ["<html><body><table>"]
    active.sort()
    for r in range(first_valid_row, n_rows):
        if r in opening:
            active = sorted(active + opening[r])
        row_frag = ["<tr>"]
        c = 0
        for a, b, _, r0, _, td in active:
            if a < c:  # overlapping cells: the later one owns shared slots
                row_frag = _overlapped_row(active, width, r)
                break
            if a > c:
                row_frag.append("<td></td>" * (a - c))
            if r == r0:
                row_frag.append(td)
            c = b
        else:
            row_frag.append("<td></td>" * (width - c))
        row_frag.append("</tr>")
        out.append("".join(row_frag))
        active = [cell for cell in active if cell[4] > r]
    out.append("</table></body></html>")
    return "".join(out)


def _overlapped_row(active: List[tuple], width: int, r: int) -> List[str]:
    """Row ``r`` of :func:`render_table_html` when cells overlap: paint the
    slots by slice in overwrite order, then emit one run of equal slots at
    a time (a cell renders only if it still owns its origin slot)."""
    line: List[Optional[tuple]] = [None] * width
    for cell in sorted(active, key=lambda cell: cell[2]):
        line[cell[0] : cell[1]] = [cell] * (cell[1] - cell[0])
    row_frag = ["<tr>"]
    c = 0
    for cell, run in groupby(line):
        n = len(list(run))
        if cell is None:
            row_frag.append("<td></td>" * n)
        elif r == cell[3] and c == cell[0]:
            row_frag.append(cell[5])
        c += n
    return row_frag


def cell_records_from_match(
    matched: Dict[int, list], logic_points, n_cells: int
) -> List[dict]:
    """Build the per-cell intermediate records from a cell→OCR match map.

    Contract (ref lineless_table_rec/main.py:137-164): cells with no OCR rows
    are dropped; each record carries the min/max envelope of its OCR quads
    (corners 0 and 2), the cell's logical span as a plain list, and the OCR
    rows flattened to ``[box_4_1, text]`` pairs.
    """
    records = []
    for i in range(n_cells):
        rows = matched.get(i)
        if not rows:
            continue
        records.append(
            {
                "t_box": [
                    min(r[0][0][0] for r in rows),
                    min(r[0][0][1] for r in rows),
                    max(r[0][2][0] for r in rows),
                    max(r[0][2][1] for r in rows),
                ],
                "t_logic_box": list(logic_points[i]),
                "t_ocr_res": [[quad_to_box(r[0]), r[1]] for r in rows],
            }
        )
    return records


def backfill_empty_cells(cell_quads, matched: Dict[int, list]) -> Dict[int, list]:
    """Give OCR-less cells a placeholder ``[[quad, "", 1]]`` entry.

    Contract: ref lineless_table_rec/main.py:240-253 (wired twin :180-193).
    """
    for i in range(len(cell_quads)):
        if not matched.get(i):
            matched[i] = [[cell_quads[i], "", 1]]
    return matched


def merge_grid_duplicates(records: List[dict]) -> List[dict]:
    """Merge cells that share an identical logical span; drop the duplicates.

    Contract (ref lineless_table_rec/main.py:199-238): scan records in order,
    fill a max_row×max_col grid; when a slot is already held by a record with
    the *same* logical box, fold the newcomer into it (concat OCR rows, union
    envelope) and delete the newcomer; records overlapping a *different*
    logical box leave the earlier occupant in place.

    A record folds only into a holder with its own box, so when no two
    records share a box nothing folds, and the grid is not filled.
    """
    if len({tuple(rec["t_logic_box"]) for rec in records}) == len(records):
        return list(records)
    return _merge_on_grid(records)


def _merge_on_grid(records: List[dict]) -> List[dict]:
    n_rows, n_cols = 0, 0
    for rec in records:
        n_rows = max(n_rows, rec["t_logic_box"][1] + 1)
        n_cols = max(n_cols, rec["t_logic_box"][3] + 1)
    grid: List[List[Optional[dict]]] = [[None] * n_cols for _ in range(n_rows)]
    dropped = set()
    for i, rec in enumerate(records):
        if i in dropped:
            continue
        r0, r1, c0, c1 = rec["t_logic_box"]
        for r in range(r0, r1 + 1):
            if i in dropped:
                continue
            for c in range(c0, c1 + 1):
                if i in dropped:
                    continue
                holder = grid[r][c]
                if not holder:
                    grid[r][c] = rec
                    continue
                if holder["t_logic_box"] == rec["t_logic_box"]:
                    holder["t_ocr_res"].extend(rec["t_ocr_res"])
                    dropped.add(i)
                    holder["t_box"] = [
                        min(holder["t_box"][0], rec["t_box"][0]),
                        min(holder["t_box"][1], rec["t_box"][1]),
                        max(holder["t_box"][2], rec["t_box"][2]),
                        max(holder["t_box"][3], rec["t_box"][3]),
                    ]
    return [records[i] for i in range(len(records)) if i not in dropped]

