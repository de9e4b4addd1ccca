"""Vectorized bounding-box math for layout-turn extraction.

Re-expresses (fresh NumPy implementation, not a copy) the box semantics of the
reference engine:

* vertical 1-D IoU with faux width 1, clamped to [0,1], identical-box pairs
  excluded             — ``marie/utils/overlap.py:42-103``
* iterative line clustering over a descending IoU ladder
  ``[0.8,0.7,0.6,0.5,0.4,0.37,0.35]`` with a bidirectional overlap-count
  check, stop after >2 no-change rounds, contained-box removal, final y-sort
                        — ``marie/boxes/line_processor.py:48-171``
* word→line assignment: unique overlap wins; multiple overlaps → best IoU
  (strict >, first wins); none → nearest line bottom to the word's vertical
  center (strict <, first wins)
                        — ``marie/boxes/line_processor.py:15-45``
* block envelope (min x/y, max extents)
                        — ``marie/utils/overlap.py:186-204``

All boxes are ``[x, y, w, h]`` int arrays (XYWH).
"""

from __future__ import annotations

import numpy as np

# Descending IoU thresholds used by the reference's line_merge ladder
# (marie/boxes/line_processor.py:121).
IOU_LADDER = (0.8, 0.7, 0.6, 0.5, 0.4, 0.37, 0.35)
# Stop once MORE THAN this many no-change ladder steps have accumulated —
# CUMULATIVE, never reset when a later step does merge, exactly like the
# reference's `no_change_count` (line_processor.py:122-135 increments on
# each size-preserving pass and has no reset branch). A plateau at 0.7/0.6
# followed by merges at 0.5 still breaks after the next no-change step;
# that quirk is part of the pinned contract.
STABLE_ROUNDS = 2


def envelope(boxes: np.ndarray) -> list[int]:
    """Tight block envelope of XYWH boxes: [min_x, min_y, extent_w, extent_h].

    Twin of ``merge_bboxes_as_block`` (overlap.py:186-204): height is the
    *extent* max(y+h)-min(y), unlike the cluster-pass envelope below.
    """
    # plain-Python reductions: envelope is called per line over a handful of
    # boxes, where numpy dispatch overhead dominates
    min_x = min(b[0] for b in boxes)
    min_y = min(b[1] for b in boxes)
    max_x1 = max(b[0] + b[2] for b in boxes)
    max_y1 = max(b[1] + b[3] for b in boxes)
    return [int(min_x), int(min_y), int(max_x1 - min_x), int(max_y1 - min_y)]


def vertical_iou_matrix(boxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All-pairs vertical-interval 1-D IoU.

    Returns ``(mask, iou)`` where ``mask[i, j]`` is True when box j counts as
    a vertical overlap of box i under the reference rules
    (overlap.py:60-103): strict interval intersection, both heights > 0, and
    pairs with *identical coordinates* excluded (which also removes the
    diagonal). ``iou`` is intersection / (h_i + h_j - intersection) clamped to
    [0, 1], width treated as 1.
    """
    b = np.asarray(boxes, dtype=np.int64).reshape(-1, 4)
    y0 = b[:, 1]
    y1 = b[:, 1] + b[:, 3]
    h = b[:, 3]

    top = np.maximum(y0[:, None], y0[None, :])
    bot = np.minimum(y1[:, None], y1[None, :])
    inter = bot - top

    overlaps = (y0[:, None] < y1[None, :]) & (y0[None, :] < y1[:, None])
    valid = (h[:, None] > 0) & (h[None, :] > 0)
    same = (b[:, None, :] == b[None, :, :]).all(axis=-1)
    mask = overlaps & valid & ~same

    union = (h[:, None] + h[None, :] - inter).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        iou = np.where(union > 0, inter / union, 0.0)
    iou = np.clip(iou, 0.0, 1.0)
    return mask, iou


def _cluster_pass(boxes: np.ndarray, min_iou: float) -> np.ndarray:
    """One clustering sweep at a single IoU threshold.

    Twin of ``__line_merge`` (line_processor.py:48-97): boxes are visited in
    ascending-y order; each unvisited box seeds a group and absorbs every
    not-yet-visited overlap with IoU >= min_iou whose own overlap count
    equals the seed's (the reference's bidirectional "ray back" check).
    Group envelope uses extent width but **max height** (line_processor.py:92),
    preserved deliberately.
    """
    b = np.asarray(boxes, dtype=np.int64).reshape(-1, 4)
    order = np.argsort(b[:, 1], kind="stable")
    b = b[order]
    n = len(b)

    mask, iou = vertical_iou_matrix(b)
    if not mask.any():
        # no vertical overlaps at all → every box is its own group and no
        # lower threshold can ever merge anything (singleton envelope == box)
        return b, False
    ov_count = mask.sum(axis=1)

    visited = np.zeros(n, dtype=bool)
    labels = np.empty(n, dtype=np.int64)
    n_groups = 0
    for i in range(n):
        if visited[i]:
            continue
        visited[i] = True
        labels[i] = n_groups
        for j in np.nonzero(mask[i])[0]:
            if visited[j] or iou[i, j] < min_iou:
                continue
            if ov_count[j] == ov_count[i]:
                labels[j] = n_groups
                visited[j] = True
        n_groups += 1

    # vectorized group envelopes: extent width, MAX height (see docstring)
    big = np.int64(1) << 60
    min_x = np.full(n_groups, big)
    min_y = np.full(n_groups, big)
    max_x1 = np.full(n_groups, -big)
    max_h = np.full(n_groups, -big)
    np.minimum.at(min_x, labels, b[:, 0])
    np.minimum.at(min_y, labels, b[:, 1])
    np.maximum.at(max_x1, labels, b[:, 0] + b[:, 2])
    np.maximum.at(max_h, labels, b[:, 3])
    return np.column_stack([min_x, min_y, max_x1 - min_x, max_h]), True


def _drop_contained(boxes: np.ndarray) -> np.ndarray:
    """Remove boxes strictly inside another box (line_processor.py:150-166)."""
    b = np.asarray(boxes, dtype=np.int64).reshape(-1, 4)
    if len(b) < 2:
        return b
    x0, y0 = b[:, 0], b[:, 1]
    x1, y1 = b[:, 0] + b[:, 2], b[:, 1] + b[:, 3]
    inside = (
        (x0[None, :] > x0[:, None])
        & (x1[None, :] < x1[:, None])
        & (y0[None, :] > y0[:, None])
        & (y1[None, :] < y1[:, None])
    )
    np.fill_diagonal(inside, False)
    keep = ~inside.any(axis=0)
    return b[keep]


def fast_band_lines(boxes: list[list[int]]) -> tuple[list, list[int]] | None:
    """Fast path for clean band-structured layouts.

    When the y-intervals decompose into components where (a) every pair in a
    component overlaps with IoU provably ≥ IOU_LADDER[0], (b) components'
    spans (true max-y1 and envelope extent alike) are strictly disjoint, and
    (c) no two boxes are coordinate-identical, the full IoU ladder provably
    yields exactly one line per component (pass 1 merges each component, pass
    2 sees no overlaps) and every non-degenerate word assignment is its own
    band. Returns ``(line_boxes, line_no)`` — with the reference's
    identical-box fallback (line_processor.py:32-44) replicated for words
    whose box equals their line box — or ``None`` when the preconditions
    fail (caller falls back to the general ladder).

    Plain loops over the box lists (one stable y-sort, one linear scan): a
    numpy body pays per-call dispatch that dominates at typical page sizes,
    and it measured no faster from 513 up to 50,000 boxes (one thread on a
    Xeon vCPU).

    Precondition: every box has exactly 4 elements (x, y, w, h). The
    duplicate probe ``set(map(tuple, boxes))`` hashes whole rows, so a
    longer row would change which boxes count as duplicates and thus the
    fast-path routing. ``layout.parse_layout_payload`` guarantees it.
    """
    n = len(boxes)
    if n == 0:
        return None
    # C-level dup probe (set over map(tuple)) beats the interleaved
    # add-per-box loop ~1.4x; both gates just route to the general ladder
    if len(set(map(tuple, boxes))) != n:
        return None
    for b in boxes:
        if b[3] <= 0:
            return None

    # stable y0 sort; bound method key avoids a lambda frame per element
    ys = [b[1] for b in boxes]
    order = sorted(range(n), key=ys.__getitem__)
    comp = [0] * n
    first = boxes[order[0]]
    run_max = first[1] + first[3]
    c = 0
    # per-component aggregates built in the same scan
    aggs = [[first[1], first[1], run_max, run_max, first[3], first[0],
             first[0] + first[2], 1]]
    # [min_y0, max_y0, min_y1, max_y1, max_h, min_x, max_x1, size]
    for k in range(1, n):
        b = boxes[order[k]]
        y0, y1 = b[1], b[1] + b[3]
        if y0 < run_max:
            comp[k] = c
            if y1 > run_max:
                run_max = y1
            a = aggs[c]
            if y0 < a[0]:
                a[0] = y0
            if y0 > a[1]:
                a[1] = y0
            if y1 < a[2]:
                a[2] = y1
            if y1 > a[3]:
                a[3] = y1
            if b[3] > a[4]:
                a[4] = b[3]
            if b[0] < a[5]:
                a[5] = b[0]
            if b[0] + b[2] > a[6]:
                a[6] = b[0] + b[2]
            a[7] += 1
        else:
            c += 1
            comp[k] = c
            run_max = y1
            aggs.append([y0, y0, y1, y1, b[3], b[0], b[0] + b[2], 1])

    iou0 = IOU_LADDER[0]
    prev_span_end = None
    for a in aggs:
        if a[7] > 1:
            inter_lb = a[2] - a[1]
            if inter_lb <= 0:
                return None
            if inter_lb / (2 * a[4] - inter_lb) < iou0:
                return None
        env_end = a[0] + a[4]
        span_end = env_end if env_end > a[3] else a[3]
        if prev_span_end is not None and a[0] < prev_span_end:
            return None
        prev_span_end = span_end

    lines = [[a[5], a[0], a[6] - a[5], a[4]] for a in aggs]

    line_no = [0] * n
    bottoms = None
    for k in range(n):
        i = order[k]
        cno = comp[k]
        b = boxes[i]
        ln = lines[cno]
        if b[0] == ln[0] and b[1] == ln[1] and b[2] == ln[2] and b[3] == ln[3]:
            # identical-box exclusion → nearest line-bottom fallback
            if bottoms is None:
                bottoms = [l[1] + l[3] for l in lines]
            cy = b[1] + b[3] // 2
            best, bestd = 0, abs(cy - bottoms[0])
            for j in range(1, len(bottoms)):
                d = abs(cy - bottoms[j])
                if d < bestd:
                    best, bestd = j, d
            line_no[i] = best + 1
        else:
            line_no[i] = cno + 1
    return lines, line_no


def cluster_lines(boxes) -> np.ndarray:
    """Cluster word boxes into line boxes.

    Twin of ``line_merge`` (line_processor.py:100-171): run ``_cluster_pass``
    down the IoU ladder, stop early after the size has been stable for more
    than ``STABLE_ROUNDS`` steps, drop strictly-contained boxes, y-sort.
    Returns an (L, 4) int array of XYWH line boxes.
    """
    b = np.asarray(boxes, dtype=np.int64).reshape(-1, 4)
    if len(b) == 0:
        return b

    stable = 0
    for threshold in IOU_LADDER:
        before = len(b)
        b, had_overlaps = _cluster_pass(b, threshold)
        if not had_overlaps:
            break  # fixpoint: no vertical overlaps left at any threshold
        if len(b) == before:
            stable += 1
            if stable > STABLE_ROUNDS:
                break

    b = _drop_contained(b)
    return b[np.argsort(b[:, 1], kind="stable")]


def assign_lines(word_boxes: np.ndarray, line_boxes: np.ndarray) -> np.ndarray:
    """1-based line number for each word box.

    Twin of ``find_line_number`` (line_processor.py:15-45) vectorized over all
    words: a single vertical overlap wins outright; several → highest IoU
    with strict ``>`` (earliest max wins); none → nearest line *bottom* to the
    word's vertical center (strict ``<``, earliest min wins).
    """
    wb = np.asarray(word_boxes, dtype=np.int64).reshape(-1, 4)
    lb = np.asarray(line_boxes, dtype=np.int64).reshape(-1, 4)
    n, m = len(wb), len(lb)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if m == 0:
        return np.full(n, -1, dtype=np.int64)

    wy0, wh = wb[:, 1], wb[:, 3]
    wy1 = wy0 + wh
    ly0, lh = lb[:, 1], lb[:, 3]
    ly1 = ly0 + lh

    top = np.maximum(wy0[:, None], ly0[None, :])
    bot = np.minimum(wy1[:, None], ly1[None, :])
    inter = bot - top
    overlaps = (wy0[:, None] < ly1[None, :]) & (ly0[None, :] < wy1[:, None])
    valid = (wh[:, None] > 0) & (lh[None, :] > 0)
    same = (wb[:, None, :] == lb[None, :, :]).all(axis=-1)
    mask = overlaps & valid & ~same

    union = (wh[:, None] + lh[None, :] - inter).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        iou = np.where(union > 0, inter / union, 0.0)
    iou = np.clip(iou, 0.0, 1.0)

    counts = mask.sum(axis=1)
    out = np.full(n, -1, dtype=np.int64)

    one = counts == 1
    out[one] = mask[one].argmax(axis=1) + 1

    multi = counts > 1
    if multi.any():
        scored = np.where(mask[multi], iou[multi], -np.inf)
        # reference keeps -1 unless some score is strictly > 0
        best = scored.argmax(axis=1)
        has_pos = scored.max(axis=1) > 0
        vals = np.where(has_pos, best + 1, -1)
        out[multi] = vals

    none = out == -1
    if none.any():
        centers = wy0[none] + wh[none] // 2
        dy = np.abs(centers[:, None] - ly1[None, :])
        out[none] = dy.argmin(axis=1) + 1
    return out
