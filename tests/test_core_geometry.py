"""Golden parity tests for the geometry kernels.

Every case below is a literal copied from the reference's own parametrized
unit tests (values only — the implementations under test are ours):
/root/reference/tests/test_lineless_table_rec.py:48-194.
The block-size test at the end is not a reference case: it pins that the
blocked pair predicates do not depend on their block size.
"""

import numpy as np
import pytest

from tablestructurerec_spark.core.geometry import (
    axis_contained_side,
    contained_side,
    duplicate_box_indices,
    gather_ocr_rows,
    reading_order,
)


@pytest.mark.parametrize(
    "box1, box2, threshold, expected",
    [
        ([10, 20, 30, 40], [5, 15, 45, 55], 0.2, 1),
        ([5, 15, 45, 55], [10, 20, 30, 40], 0.2, 2),
        ([10, 20, 30, 40], [25, 35, 45, 55], 0.2, None),
        ([10, 20, 30, 40], [50, 60, 70, 80], 0.2, None),
        ([10, 20, 30, 40], [15, 25, 35, 45], 0.2, None),
        ([10, 20, 30, 40], [15, 25, 35, 45], 0.5, 1),
        ([15, 25, 35, 45], [14, 24, 16, 44], 0.6, 2),
        ([10, 20, 30, 40], [10, 20, 30, 40], 0.2, 1),
        (np.array([10, 20, 30, 40]), np.array([5, 15, 45, 55]), 0.2, 1),
    ],
)
def test_contained_side(box1, box2, threshold, expected):
    assert contained_side(box1, box2, threshold) == expected


@pytest.mark.parametrize(
    "box1, box2, axis, threshold, expected",
    [
        ([10, 10, 20, 20], [12, 12, 18, 18], "x", 0.2, 2),
        ([12, 12, 18, 18], [10, 10, 20, 20], "x", 0.2, 1),
        ([10, 10, 20, 20], [12, 12, 18, 18], "y", 0.2, 2),
        ([12, 12, 18, 18], [10, 10, 20, 20], "y", 0.2, 1),
        ([10, 10, 20, 20], [25, 25, 30, 30], "x", 0.2, None),
        ([10, 10, 20, 20], [25, 25, 30, 30], "y", 0.2, None),
        ([10, 10, 20, 20], [15, 15, 25, 25], "x", 0.2, None),
        ([10, 10, 20, 20], [15, 15, 25, 25], "y", 0.2, None),
        ([10, 10, 20, 20], [13, 15, 21, 25], "x", 0.2, 2),
        ([10, 14, 20, 20], [15, 15, 25, 50], "y", 0.2, 1),
        ([10, 10, 20, 20], [10, 10, 20, 20], "x", 0.2, 1),
        ([10, 10, 20, 20], [10, 10, 20, 20], "y", 0.2, 1),
    ],
)
def test_axis_contained_side(box1, box2, axis, threshold, expected):
    assert axis_contained_side(box1, box2, axis, threshold) == expected


@pytest.mark.parametrize(
    "input_ocr_list, expected_output",
    [
        (
            [[[10, 20, 30, 40], "text1"], [[15, 23, 35, 43], "text2"]],
            [[[10, 20, 35, 43], "text1text2"]],
        ),
        (
            [
                [[10, 24, 30, 30], "text1"],
                [[15, 25, 35, 45], "text2"],
                [[5, 30, 15, 50], "text3"],
            ],
            [[[10, 24, 35, 45], "text1text2"], [[5, 30, 15, 50], "text3"]],
        ),
        ([], []),
        (
            [[[10, 20, 30, 40], "text1"], [], [[15, 25, 35, 45], "text2"]],
            [[[10, 20, 30, 40], "text1"], [[15, 25, 35, 45], "text2"]],
        ),
    ],
)
def test_gather_ocr_rows(input_ocr_list, expected_output):
    assert gather_ocr_rows(input_ocr_list) == expected_output


@pytest.mark.parametrize(
    "dt_boxes, expected_boxes, expected_indices",
    [
        (
            np.array([[2, 3, 4, 5], [3, 4, 5, 6], [1, 2, 2, 3]]),
            np.array([[1, 2, 2, 3], [2, 3, 4, 5], [3, 4, 5, 6]]),
            [2, 0, 1],
        ),
        (
            np.array([[59, 0, 148, 52], [134, 0, 254, 53], [12, 13, 30, 40]]),
            np.array([[12, 13, 30, 40], [59, 0, 148, 52], [134, 0, 254, 53]]),
            [2, 0, 1],
        ),
        (np.array([[2, 3, 4, 5]]), np.array([[2, 3, 4, 5]]), [0]),
        (np.array([]), np.array([]), []),
    ],
)
def test_reading_order(dt_boxes, expected_boxes, expected_indices):
    boxes, indices = reading_order(dt_boxes)
    assert np.asarray(boxes).tolist() == expected_boxes.tolist()
    assert indices == expected_indices


@pytest.mark.parametrize(
    "table_boxes, expected_delete_idx",
    [
        (
            np.array(
                [
                    [10, 20, 30, 40],
                    [10, 20, 30, 40],
                    [10, 30, 30, 40],
                    [9, 35, 25, 50],
                    [10, 19, 29, 41],
                ]
            ),
            {1, 2, 4},
        ),
        (np.array([[1, 2, 3, 4]]), set()),
        (np.array([]), set()),
    ],
)
def test_duplicate_box_indices(table_boxes, expected_delete_idx):
    assert duplicate_box_indices(table_boxes.tolist()) == expected_delete_idx


def _grid_html(n: int, wireless: bool) -> str:
    first = '<td colspan="2">h{r}</td>' if wireless else "<td>h{r}</td>"
    rest = n - 2 if wireless else n - 1
    rows = "".join(
        "<tr>" + first.format(r=r) + "".join(f"<td>c{r}_{c}</td>" for c in range(rest)) + "</tr>"
        for r in range(n)
    )
    return f"<table>{rows}</table>"


@pytest.mark.parametrize("wireless", [False, True])
def test_pair_blocks_do_not_change_results(monkeypatch, wireless):
    """The blocked pair predicates give the same result whatever the block
    size: a table whose pairs span many blocks of the real ``PAIR_BLOCK``
    equals one computed in a single block, through the whole kernel and
    on overlapping, duplicated random boxes."""
    from tablestructurerec_spark.core import geometry
    from tablestructurerec_spark.core.geometry import match_ocr_to_cells
    from tablestructurerec_spark.core.pipeline import process_table_html

    rng = np.random.default_rng(3)
    xy = rng.uniform(0, 400, size=(600, 2))
    wh = rng.uniform(1, 40, size=(600, 2))
    boxes = np.hstack([xy, xy + wh])
    boxes[300:] = boxes[:300] + rng.choice([0.0, 0.5], size=(300, 4))  # near duplicates
    quads = [[[x0, y0], [x1, y0], [x1, y1], [x0, y1]] for x0, y0, x1, y1 in boxes.tolist()]
    ocr = [[q, f"t{i}", 1.0] for i, q in enumerate(quads[::-1])]
    html = _grid_html(30, wireless)
    n_cells = 30 * 30  # and at least as many OCR fragments
    assert min(len(boxes) ** 2, n_cells * n_cells) > 4 * geometry.PAIR_BLOCK

    def run():
        return (
            process_table_html(html, 5),
            duplicate_box_indices(boxes.tolist()),
            match_ocr_to_cells(ocr, quads),
        )

    blocked = run()
    monkeypatch.setattr(geometry, "PAIR_BLOCK", 10**12)
    whole = run()
    assert blocked == whole
    assert blocked[0]["table_kind"] == ("wireless" if wireless else "wired")
    assert blocked[1] and blocked[2][0]
