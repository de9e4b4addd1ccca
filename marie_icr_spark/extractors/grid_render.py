"""Char-grid text rendering: words placed at their visual columns.

Deterministic twin of the reference TextRenderer's grid placement
(``marie/renderer/text_renderer.py:44-143``): constants ``char_width=8.44``,
``char_height=16``, ratio 2.75 (:49-53); column bins are
``np.digitize(x, linspace(0, page_w, cols), right=True)``; each line's
baseline maps to a character-cell row (``cell_y = (y+h) // char_height``)
and inter-line cell gaps emit blank lines; within a line, words are placed
by string insertion at their grid column in ``word_index`` order.
"""

from __future__ import annotations

from math import ceil
from typing import Any

import numpy as np

CHAR_WIDTH = 8.44
CHAR_HEIGHT = 16


def render_grid_text(
    words: list[dict[str, Any]],
    lines: list[dict[str, Any]],
    page_width: int,
) -> str:
    """Visual-layout text for one turn's layout result.

    ``words``/``lines`` are FIXTURES.md §3 structs as field-name dicts
    (the ``WORD_FIELDS``/``LINE_FIELDS`` tuples of ``extract_layout``).
    Output preserves horizontal alignment in character cells and vertical
    gaps as blank lines.
    """
    if not lines:
        return ""
    # floor-div IS the pinned column-count contract (the ceil is a no-op on
    # an already-floored value — kept because the SQL twin in
    # queries_ext.py spells the identical expression; change both or
    # neither, a one-sided "fix" to true-ceiling breaks cross-engine parity)
    cols = ceil(page_width // CHAR_WIDTH)
    bins = np.linspace(0, page_width, max(cols, 1)).astype(np.int32)
    by_id = {w["id"]: w for w in words}

    out: list[str] = []
    prev_cell_y = 1
    for i, line in enumerate(lines):
        x, y, w, h = line["bbox"]
        cell_y = (y + h) // CHAR_HEIGHT
        gap = cell_y - prev_cell_y
        prev_cell_y = cell_y
        for _ in range(1, gap):
            out.append("")

        picks = sorted(
            (by_id[wid] for wid in line["wordids"]),
            key=lambda w: w["word_index"],
        )
        buf = " " * cols
        for word in picks:
            wx = min(max(int(word["box"][0]), 0), page_width - 1)
            col = int(np.digitize([wx], bins, right=True)[0])
            buf = buf[:col] + word["text"] + buf[col:]
        out.append(buf.rstrip())
    return "\n".join(out)
