"""Axis-aligned box predicates and reading-order primitives.

Semantics parity (behavior, not code) with the reference utilities in
``lineless_table_rec/utils/utils_table_recover.py`` (byte-identical twins live
under ``wired_table_rec``).  Each function cites the reference lines whose
*contract* it reproduces; the implementations here are written from scratch
and, where possible, vectorized for use inside Arrow-batched UDFs.

Box convention: ``(xmin, ymin, xmax, ymax)`` floats ("box_4_1").
Quad convention: 4x2 clockwise from top-left ("box_4_2").
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Set, Tuple

import numpy as np

__all__ = [
    "box_iou",
    "axis_iou",
    "contained_side",
    "axis_contained_side",
    "reading_order",
    "gather_ocr_rows",
    "duplicate_box_indices",
    "match_ocr_to_cells",
    "quad_to_box",
]

# pairs per block of the blocked all-pairs predicates: each float temporary
# of a block is 0.5 MB, which stays in cache (4,000,000-pair blocks made each
# 32 MB and a plain 100×100 grid's kernel ~2.4× slower)
PAIR_BLOCK = 65_536


def box_iou(a: Sequence[float], b: Sequence[float]) -> float:
    """Intersection-over-union of two axis-aligned boxes.

    Contract (ref utils_table_recover.py:98-128):
    * strictly-disjoint boxes short-circuit to 0.0 (touching edges are NOT
      disjoint and fall through to the area math);
    * a zero union area (degenerate boxes) yields 1, flagging both boxes as
      bogus detections to be deduplicated.
    """
    ax0, ay0, ax1, ay1 = a[0], a[1], a[2], a[3]
    bx0, by0, bx1, by1 = b[0], b[1], b[2], b[3]
    if ax1 < bx0 or ax0 > bx1 or ay1 < by0 or ay0 > by1:
        return 0.0
    iw = min(ax1, bx1) - max(ax0, bx0)
    ih = min(ay1, by1) - max(ay0, by0)
    inter = max(0.0, iw) * max(0.0, ih)
    union = (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) - inter
    if union == 0:
        return 1
    return inter / union


def axis_iou(a: Sequence[float], b: Sequence[float], axis: str = "x") -> float:
    """1-D interval IoU along ``axis`` (ref utils_table_recover.py:131-152).

    A zero-length union yields 1 (same degenerate-box convention as
    :func:`box_iou`); negative overlap clamps to 0.
    """
    if axis == "x":
        lo_a, hi_a, lo_b, hi_b = a[0], a[2], b[0], b[2]
    else:
        lo_a, hi_a, lo_b, hi_b = a[1], a[3], b[1], b[3]
    union = max(hi_a, hi_b) - min(lo_a, lo_b)
    inter = max(min(hi_a, hi_b) - max(lo_a, lo_b), 0)
    if union == 0:
        return 1
    return inter / union


def contained_side(
    a: Sequence[float], b: Sequence[float], threshold: float = 0.2
) -> Optional[int]:
    """Which box is (almost) inside the other.

    Returns 1 when ``a`` sits inside ``b`` (the fraction of ``a``'s area
    falling outside the intersection is < ``threshold``), 2 for the converse,
    ``None`` otherwise.  ``a`` is tested first, so two identical boxes report
    1.  Strictly-disjoint boxes short-circuit to ``None``.  Degenerate boxes
    (zero area) produce an outside-ratio of 0 and therefore report containment.
    Contract: ref utils_table_recover.py:155-196.
    """
    ax0, ay0, ax1, ay1 = a[0], a[1], a[2], a[3]
    bx0, by0, bx1, by1 = b[0], b[1], b[2], b[3]
    if ax1 < bx0 or ax0 > bx1 or ay1 < by0 or ay0 > by1:
        return None
    area_a = (ax1 - ax0) * (ay1 - ay0)
    area_b = (bx1 - bx0) * (by1 - by0)
    iw = max(0.0, min(ax1, bx1) - max(ax0, bx0))
    ih = max(0.0, min(ay1, by1) - max(ay0, by0))
    inter = iw * ih
    out_a = (area_a - inter) / area_a if area_a > 0 else 0
    out_b = (area_b - inter) / area_b if area_b > 0 else 0
    if out_a < threshold:
        return 1
    if out_b < threshold:
        return 2
    return None


def axis_contained_side(
    a: Sequence[float], b: Sequence[float], axis: str = "x", threshold: float = 0.2
) -> Optional[int]:
    """1-D version of :func:`contained_side` along ``axis``.

    Contract (ref utils_table_recover.py:199-229): NO disjoint short-circuit —
    disjoint intervals yield a negative overlap, which inflates the outside
    ratios and naturally returns ``None``; zero-length intervals report
    containment (outside ratio treated as 0).
    """
    if axis == "x":
        lo_a, hi_a, lo_b, hi_b = a[0], a[2], b[0], b[2]
    else:
        lo_a, hi_a, lo_b, hi_b = a[1], a[3], b[1], b[3]
    len_a = hi_a - lo_a
    len_b = hi_b - lo_b
    inter = min(hi_a, hi_b) - max(lo_a, lo_b)  # may be negative
    out_a = (len_a - inter) / len_a if len_a > 0 else 0
    out_b = (len_b - inter) / len_b if len_b > 0 else 0
    if out_a < threshold:
        return 1
    if out_b < threshold:
        return 2
    return None


def reading_order(
    boxes: Sequence[Sequence[float]], threshold: float = 0.2
) -> Tuple[list, List[int]]:
    """Sort boxes top-to-bottom, left-to-right, returning (boxes, permutation).

    Contract (ref utils_table_recover.py:232-268):
    1. stable sort on ``(ymin, xmin)``;
    2. a bubble stabilization pass: walking each element leftwards, swap
       adjacent boxes that share a y-band (``axis_contained_side`` on y with
       the caller's ``threshold``) AND are x-inverted AND whose ymin values
       differ by < 20px; stop the leftward walk at the first non-swap.

    This is NOT a plain lexicographic sort — the y-band test makes it a
    reading-order sort; goldens in the reference pin exact permutations
    (tests/test_lineless_table_rec.py:137-165).  Output box container type
    mirrors the input (ndarray in → ndarray out).
    """
    n = len(boxes)
    if n <= 0:
        return boxes, []
    order = sorted(range(n), key=lambda k: (boxes[k][1], boxes[k][0]))
    is_np = isinstance(boxes, np.ndarray)
    work = [boxes[k] for k in order]
    if is_np:
        work = np.array(work)
    y_jump = 20
    for i in range(n - 1):
        for j in range(i, -1, -1):
            band = axis_contained_side(work[j], work[j + 1], axis="y", threshold=threshold)
            if (
                band is not None
                and work[j + 1][0] < work[j][0]
                and abs(work[j][1] - work[j + 1][1]) < y_jump
            ):
                if is_np:
                    tmp = work[j].copy()
                    work[j] = work[j + 1].copy()
                    work[j + 1] = tmp
                else:
                    work[j], work[j + 1] = work[j + 1], work[j]
                order[j], order[j + 1] = order[j + 1], order[j]
            else:
                break
    return work, order


def gather_ocr_rows(ocr_items: list, threshold: float = 0.2) -> list:
    """Merge OCR fragments sharing a text line into single fragments.

    ``ocr_items`` is ``[[box_4_1, text], ...]`` (mutable lists), already in
    reading order.  Contract (ref utils_table_recover.py:271-305):
    * for each surviving item ``i``, every later item ``j`` whose y-interval
      is contained either way (``axis_contained_side`` y, caller threshold)
      is folded into ``i``: text appended after ``int(gap/10)`` spaces where
      ``gap = max(j.xmin - i.xmax, 0)``, boxes unioned (the union feeds the
      next gap computation — order-dependent, reproduced);
    * falsy entries are skipped and dropped from the output.
    Mutates and filters in place semantically; returns the filtered list.
    """
    space_unit = 10
    for i in range(len(ocr_items)):
        if not ocr_items[i]:
            continue
        head = ocr_items[i]
        for j in range(i + 1, len(ocr_items)):
            if not ocr_items[j]:
                continue
            tail = ocr_items[j]
            if axis_contained_side(head[0], tail[0], axis="y", threshold=threshold):
                gap = max(tail[0][0] - head[0][2], 0)
                head[1] = head[1] + " " * int(gap / space_unit) + tail[1]
                head[0] = [
                    min(head[0][0], tail[0][0]),
                    min(head[0][1], tail[0][1]),
                    max(head[0][2], tail[0][2]),
                    max(head[0][3], tail[0][3]),
                ]
                ocr_items[j] = None
    return [x for x in ocr_items if x]


def duplicate_box_indices(boxes: Sequence[Sequence[float]]) -> Set[int]:
    """Indices of boxes to drop as duplicates (keep-first semantics).

    Contract (ref utils_table_recover.py:70-95): pairwise scan i<j, skipping
    already-dropped entries; drop j on IoU>0.8 or when j is inside i; drop i
    when i is inside j (and, as in the reference, keep scanning i's remaining
    pairs even after i is dropped).  Golden sets pinned by
    tests/test_lineless_table_rec.py:168-194.
    """
    dropped: Set[int] = set()
    n = len(boxes)
    if n < 2:
        return dropped
    if n <= 64:
        # small tables: the direct reference scan
        for i in range(n):
            if i in dropped:
                continue
            for j in range(i + 1, n):
                if j in dropped:
                    continue
                if box_iou(boxes[i], boxes[j]) > 0.8:
                    dropped.add(j)
                    continue
                side = contained_side(boxes[i], boxes[j])
                if side == 2:
                    dropped.add(j)
                elif side == 1:
                    dropped.add(i)
        return dropped

    # Large tables: pairs where neither predicate fires can never change the
    # scan's state, so precompute the candidate pairs with blocked numpy
    # (identical arithmetic to box_iou / contained_side) and replay the exact
    # sequential keep-first logic over candidates only — O(N²) vectorized ops
    # + O(|overlapping pairs|) python, instead of O(N²) python calls.
    b = np.asarray([list(x[:4]) for x in boxes], dtype=float)
    x0, y0, x1, y1 = b[:, 0], b[:, 1], b[:, 2], b[:, 3]
    cand_i: list = []
    cand_j: list = []
    block = max(1, PAIR_BLOCK // n)
    for s in range(0, n, block):
        e = min(s + block, n)
        ax0, ay0, ax1, ay1 = (v[s:e][:, None] for v in (x0, y0, x1, y1))
        bx0, by0, bx1, by1 = (v[None, :] for v in (x0, y0, x1, y1))
        iw = np.minimum(ax1, bx1) - np.maximum(ax0, bx0)
        ih = np.minimum(ay1, by1) - np.maximum(ay0, by0)
        inter = np.maximum(iw, 0.0) * np.maximum(ih, 0.0)
        area_a = (ax1 - ax0) * (ay1 - ay0)
        area_b = (bx1 - bx0) * (by1 - by0)
        with np.errstate(divide="ignore", invalid="ignore"):
            union = area_a + area_b - inter
            iou = np.where(union == 0, 1.0, inter / union)
            ratio_a = np.where(area_a > 0, (area_a - inter) / area_a, 0.0)
            ratio_b = np.where(area_b > 0, (area_b - inter) / area_b, 0.0)
        cand = (iou > 0.8) | (ratio_a < 0.2) | (ratio_b < 0.2)
        ii, jj = np.nonzero(cand)
        ii = ii + s
        keep = ii < jj  # pairwise scan visits i < j only
        cand_i.append(ii[keep])
        cand_j.append(jj[keep])
    ii = np.concatenate(cand_i)
    jj = np.concatenate(cand_j)
    order = np.lexsort((jj, ii))  # scan order: i ascending, then j ascending
    # the reference checks `i in dropped` only when the OUTER loop reaches i:
    # an i dropped mid-scan keeps processing its remaining pairs — replay that
    cur_i, skip_i = -1, False
    for k in order:
        i, j = int(ii[k]), int(jj[k])
        if i != cur_i:
            cur_i, skip_i = i, i in dropped
        if skip_i or j in dropped:
            continue
        if box_iou(boxes[i], boxes[j]) > 0.8:
            dropped.add(j)
            continue
        side = contained_side(boxes[i], boxes[j])
        if side == 2:
            dropped.add(j)
        elif side == 1:
            dropped.add(i)
    return dropped


def match_ocr_to_cells(ocr_rows: list, cell_quads) -> Tuple[dict, list]:
    """Theta-join of OCR fragments onto predicted cell quads.

    ``ocr_rows``: ``[[quad(4,2), text, score], ...]``; ``cell_quads``: iterable
    of 4x2 quads.  A fragment matches a cell when it is ≥40% inside it
    (``contained_side(ocr, cell, 0.6) == 1``) or box-IoU > 0.8.  Returns
    ``(cell_idx -> [ocr_row...]`` in scan order, ``unmatched ocr_rows)``.

    Contract: ref utils_table_recover.py:378-406.  The reference appends to
    its unmatched list once per *non-matching pair* (a quirk it never reads —
    only len-logs); we normalize to one entry per never-matched fragment and
    document the divergence here.
    """
    matched: dict = {}
    unmatched: list = []
    n_ocr, n_cells = len(ocr_rows), len(cell_quads)
    if n_ocr == 0 or n_cells == 0:
        return matched, list(ocr_rows)

    if n_ocr * n_cells <= 1024:
        # small-table fast path: identical IEEE arithmetic in plain python —
        # the vectorized kernel's fixed overhead (array building, errstate,
        # argsort) dominates at typical per-turn sizes (<=5 cells x ~12
        # fragments); measured ~3x on the flagship corpus.  Per-cell lists
        # stay in OCR scan order, as the blocked path's stable sort produces.
        for i in range(n_ocr):
            r = ocr_rows[i]
            ox0, oy0 = r[0][0]
            ox1, oy1 = r[0][2]
            hit = False
            for j in range(n_cells):
                c = cell_quads[j]
                cx0, cy0 = c[0]
                cx1, cy1 = c[2]
                if ox1 < cx0 or ox0 > cx1 or oy1 < cy0 or oy0 > cy1:
                    continue
                iw = min(ox1, cx1) - max(ox0, cx0)
                ih = min(oy1, cy1) - max(oy0, cy0)
                inter = (iw if iw > 0.0 else 0.0) * (ih if ih > 0.0 else 0.0)
                area_o = (ox1 - ox0) * (oy1 - oy0)
                area_cj = (cx1 - cx0) * (cy1 - cy0)
                out_ratio = (area_o - inter) / area_o if area_o > 0 else 0.0
                union = area_o + area_cj - inter
                iou = 1.0 if union == 0 else inter / union
                if out_ratio < 0.6 or iou > 0.8:
                    matched.setdefault(j, []).append(r)
                    hit = True
            if not hit:
                unmatched.append(r)
        return matched, unmatched

    # vectorized pair predicate (hot path: F×C per table); identical math to
    # contained_side(..., 0.6) == 1 or box_iou(...) > 0.8 above.  The OCR
    # side is processed in blocks of PAIR_BLOCK pairs: a dense F×C float
    # matrix set is ~15 × 8·F·C bytes, and on fresh pages the first-touch
    # cost alone made a 4800² table take 38 s (measured) — the blocked
    # version is identical math at a flat memory footprint.
    ob = np.asarray(
        [(r[0][0][0], r[0][0][1], r[0][2][0], r[0][2][1]) for r in ocr_rows], dtype=float
    )
    cb = np.asarray(
        [(c[0][0], c[0][1], c[2][0], c[2][1]) for c in cell_quads], dtype=float
    )
    cx0, cy0, cx1, cy1 = (cb[:, k][None, :] for k in range(4))
    area_c = (cx1 - cx0) * (cy1 - cy0)

    pair_i: list = []
    pair_j: list = []
    block = max(1, PAIR_BLOCK // max(n_cells, 1))
    any_hit = np.zeros(n_ocr, dtype=bool)
    for s in range(0, n_ocr, block):
        e = min(s + block, n_ocr)
        ox0, oy0, ox1, oy1 = (ob[s:e, k][:, None] for k in range(4))
        overlap = ~((ox1 < cx0) | (ox0 > cx1) | (oy1 < cy0) | (oy0 > cy1))
        iw = np.maximum(np.minimum(ox1, cx1) - np.maximum(ox0, cx0), 0.0)
        ih = np.maximum(np.minimum(oy1, cy1) - np.maximum(oy0, cy0), 0.0)
        inter = iw * ih
        area_o = (ox1 - ox0) * (oy1 - oy0)
        with np.errstate(divide="ignore", invalid="ignore"):
            out_ratio = np.where(area_o > 0, (area_o - inter) / area_o, 0.0)
            union = area_o + area_c - inter
            iou = np.where(union == 0, 1.0, inter / union)
        hits = overlap & ((out_ratio < 0.6) | (iou > 0.8))
        ii, jj = np.nonzero(hits)
        pair_i.append(ii + s)
        pair_j.append(jj)
        any_hit[s:e] = hits.any(axis=1)

    ii = np.concatenate(pair_i) if pair_i else np.zeros(0, dtype=int)
    jj = np.concatenate(pair_j) if pair_j else np.zeros(0, dtype=int)
    # group by cell, preserving OCR scan order within each cell (stable sort)
    order = np.argsort(jj, kind="stable")
    for k in order:
        matched.setdefault(int(jj[k]), []).append(ocr_rows[int(ii[k])])
    unmatched = [ocr_rows[i] for i in np.nonzero(~any_hit)[0]]
    return matched, unmatched


def quad_to_box(quad) -> List[float]:
    """4x2 quad → box_4_1 via corners 0 and 2 (ref utils_table_recover.py:313-319)."""
    return [quad[0][0], quad[0][1], quad[2][0], quad[2][1]]
