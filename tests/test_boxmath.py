"""Unit tests for boxmath — ports the assert style of the reference's
tests/unit/test_overlap.py:20-43 (random boxes through the merge routines)."""

import numpy as np
import pytest

from marie_icr_spark.extractors.boxmath import (
    assign_lines,
    cluster_lines,
    envelope,
    fast_band_lines,
    vertical_iou_matrix,
)


def test_envelope_extent():
    # merge_bboxes_as_block semantics (overlap.py:186-204): extents, not max h
    assert envelope([[0, 0, 10, 10], [20, 5, 10, 10]]) == [0, 0, 30, 15]


def test_vertical_iou_excludes_identical_and_degenerate():
    boxes = [[0, 0, 10, 10], [0, 0, 10, 10], [5, 0, 10, 0]]
    mask, _ = vertical_iou_matrix(np.array(boxes))
    # identical pair excluded both ways; zero-height box never overlaps
    assert not mask[0, 1] and not mask[1, 0]
    assert not mask[0, 2] and not mask[2, 0]


def test_vertical_iou_values():
    boxes = np.array([[0, 0, 10, 10], [50, 0, 10, 10], [0, 5, 10, 10]])
    mask, iou = vertical_iou_matrix(boxes)
    assert mask[0, 1] and iou[0, 1] == pytest.approx(1.0)
    # [0,10) vs [5,15): inter 5, union 15
    assert iou[0, 2] == pytest.approx(5 / 15)


def test_cluster_lines_basic_rows():
    # two clean rows of word boxes -> two line boxes, y-sorted
    row0 = [[x, 0, 8, 16] for x in (0, 10, 20)]
    row1 = [[x, 20, 8, 16] for x in (0, 10)]
    lines = cluster_lines(np.array(row1 + row0))  # scrambled input
    assert lines.shape == (2, 4)
    assert lines[0][1] == 0 and lines[1][1] == 20
    assert lines[0].tolist() == [0, 0, 28, 16]


def test_cluster_lines_empty():
    assert cluster_lines(np.zeros((0, 4))).shape == (0, 4)


def test_cluster_lines_contained_removed():
    # a box strictly inside the merged row must not survive as its own line
    boxes = [[0, 0, 100, 20], [10, 5, 10, 10]]
    lines = cluster_lines(np.array(boxes))
    assert len(lines) == 1


def test_assign_lines_unique_and_best():
    lines = np.array([[0, 0, 100, 16], [0, 20, 100, 16]])
    words = np.array(
        [
            [5, 0, 10, 16],    # exactly row 0 band
            [5, 20, 10, 16],   # exactly row 1 band
            [5, 12, 10, 16],   # straddles both -> best IoU wins (row 1: inter 8 vs row 0: 4)
        ]
    )
    out = assign_lines(words, lines)
    assert out.tolist()[:2] == [1, 2]
    assert out[2] == 2


def test_assign_lines_nearest_fallback():
    # word identical to the single line box -> excluded from overlap,
    # falls back to nearest line bottom (line_processor.py:32-44)
    lines = np.array([[0, 0, 50, 16]])
    words = np.array([[0, 0, 50, 16]])
    assert assign_lines(words, lines).tolist() == [1]


def test_assign_lines_vertical_outlier():
    lines = np.array([[0, 0, 50, 16], [0, 40, 50, 16]])
    words = np.array([[0, 100, 10, 16]])  # far below everything
    assert assign_lines(words, lines).tolist() == [2]


def test_cluster_is_deterministic_on_random_boxes():
    rng = np.random.RandomState(7)
    boxes = np.column_stack(
        [
            rng.randint(0, 500, 200),
            rng.randint(0, 300, 200),
            rng.randint(4, 60, 200),
            rng.randint(8, 24, 200),
        ]
    )
    a = cluster_lines(boxes)
    b = cluster_lines(boxes)
    assert (a == b).all()
    out = assign_lines(boxes, a)
    assert (out >= 1).all() and (out <= len(a)).all()


def _ladder_agrees(boxes: list[list[int]]) -> bool:
    """True when ``fast_band_lines`` fires on ``boxes``; then its line boxes
    and line numbers must equal the general ladder's."""
    fast = fast_band_lines(boxes)
    if fast is None:
        return False
    flines, fno = fast
    arr = np.array(boxes, dtype=np.int64).reshape(-1, 4)
    glines = cluster_lines(arr)
    assert np.array_equal(np.array(flines).reshape(-1, 4), glines)
    assert fno == assign_lines(arr, glines).tolist()
    return True


def _band_page(rng, nlines, max_words):
    """Tidy page: rows 18-39 px apart, 16 px tall with 0/1 px y jitter,
    1..max_words words each, shuffled."""
    boxes, y = [], 0
    for _ in range(nlines):
        y += rng.randint(18, 40)
        x = 0
        for _ in range(rng.randint(1, max_words + 1)):
            w = rng.randint(9, 80)
            boxes.append([x, y + rng.randint(0, 2), w, 16])
            x += w + rng.randint(5, 20)
    return [boxes[i] for i in rng.permutation(len(boxes))]


def test_fast_band_path_equivalent_to_ladder():
    """fast_band_lines must agree with the general ladder whenever it fires,
    on small pages and on pages past 512 boxes alike."""
    rng = np.random.RandomState(99)
    fired = 0
    for trial in range(300):
        nlines = rng.randint(1, 7)
        boxes = []
        for ln in range(nlines):
            x = 0
            y = ln * rng.randint(18, 40)
            h = 16
            for _ in range(rng.randint(1, 8)):
                w = rng.randint(9, 80)
                boxes.append([x, y, w, h])
                x += w + rng.randint(5, 20)
        boxes = [boxes[i] for i in rng.permutation(len(boxes))]
        fired += _ladder_agrees(boxes)
    assert fired > 150, f"fast path almost never fires ({fired}/300)"
    sizes = []
    for nlines in (130, 200, 320):
        page = _band_page(rng, nlines, 8)
        sizes.append(len(page))
        assert _ladder_agrees(page), len(page)
    assert min(sizes) > 512, sizes


def test_fast_band_path_rejects_messy():
    # jittered overlapping bands → must fall back (conservative bound)
    assert fast_band_lines([[0, 0, 50, 16], [60, 10, 50, 16]]) is None
    # duplicates → must fall back
    assert fast_band_lines([[0, 0, 50, 16], [0, 0, 50, 16]]) is None
    # zero-height → must fall back
    assert fast_band_lines([[0, 0, 50, 0], [0, 40, 50, 16]]) is None
    # past 512 boxes: one duplicate in a tidy page still falls back
    page = _band_page(np.random.RandomState(7), 200, 8)
    assert len(page) > 512 and fast_band_lines(page) is not None
    assert fast_band_lines(page + [list(page[0])]) is None
