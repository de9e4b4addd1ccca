"""Layout-turn extraction: PDF/OCR word boxes → lines → reading-order text.

Twin of the reference's per-page recognition/assembly path, re-expressed over
a JSON payload of ``[{"text": str, "box": [x, y, w, h]}, ...]`` (scrambled
order, possibly overlapping/degenerate boxes):

* degenerate-region filter (w/h <= 0)      — ``marie/ocr/ocr_engine.py:277-287``
* line clustering (IoU ladder)             — ``marie/boxes/line_processor.py:48-171``
* word→line assignment                     — ``line_processor.py:15-45``
* LTR x-sort, word id = rank               — ``marie/document/ocr_processor.py:160-190``
* per-line regroup in ascending line order, sequential ``word_index``,
  ``" "`` text join, envelope bbox, avg confidence round 4
                                           — ``ocr_processor.py:210-247``
* turn text = line texts sorted by line number joined ``"\n"``
                                           — ``meta_to_text``, ``marie/ocr/util.py:76-82``

Blank payloads return the empty result rather than erroring
(``ocr_processor.py:146-154``).
"""

from __future__ import annotations

import json

try:  # orjson is ~5x faster for payload parsing; fall back to stdlib
    import orjson as _fastjson

    def _loads(s):
        return _fastjson.loads(s)
except ImportError:  # pragma: no cover
    def _loads(s):
        return json.loads(s)

import numpy as np

from .boxmath import (
    assign_lines,
    cluster_lines,
    envelope,
    fast_band_lines,
)
from .textnorm import join_lines, join_words

# Word confidence for already-textual payloads: there is no recognizer, so
# every span is exact. Rounding contract: word conf round 3, line conf round 4
# (ocr_processor.py:174, :246).
WORD_CONFIDENCE = 1.0
_WORD_CONF_R3 = round(WORD_CONFIDENCE, 3)


# Coordinate range of a layout box: x, y, x+w and y+h must all lie in
# [-2^30, 2^30). Then every emitted word box and every line-bbox width
# (max(x+w) - min(x) < 2^31) fits the int32 struct fields, and no value
# reaches the int64 box math.
_COORD_LO = -(1 << 30)
_COORD_HI = 1 << 30


def parse_layout_payload(text: str) -> tuple[list[str], list[list[int]]] | None:
    """Parse a layout JSON payload; None if it isn't one.

    Accepts either a bare list of word dicts or ``{"words": [...]}``; each
    word needs a string ``text`` and a 4-element numeric ``box`` (region
    validation contract, ``marie/ocr/ocr_engine.py:249-256`` — required keys,
    ints coerced) whose x, y, x+w and y+h lie in [-2^30, 2^30). Returns
    parallel (texts, boxes) lists.
    """
    s = text.strip()
    if not s or s[0] not in "[{":
        return None
    try:
        data = _loads(s)
    except (ValueError, RecursionError):
        return None
    if isinstance(data, dict):
        data = data.get("words")
    if not isinstance(data, list):
        return None
    # fast path: well-formed payloads (the overwhelmingly common case) —
    # bulk-extract then validate; fall to the per-item checks on any miss
    try:
        texts = [item["text"] for item in data]
        boxes = [item["box"] for item in data]
    except (TypeError, KeyError):
        return None
    lo, hi = _COORD_LO, _COORD_HI
    for i, (txt, box) in enumerate(zip(texts, boxes)):
        if type(txt) is not str or type(box) is not list or len(box) != 4:
            return None
        x, y, w, h = box
        if not (
            type(x) is int and type(y) is int
            and type(w) is int and type(h) is int
        ):
            try:
                box = boxes[i] = [int(v) for v in box]
            except (TypeError, ValueError, OverflowError):
                # OverflowError: int(float('inf')) via the stdlib-json
                # fallback (orjson rejects Infinity at parse time)
                return None
            x, y, w, h = box
        if not (
            lo <= x < hi and lo <= y < hi
            and lo <= x + w < hi and lo <= y + h < hi
        ):
            return None
    return texts, boxes


# Page-segmentation modes (PSM contract, marie/boxes/box_processor.py:129-162),
# transposed to text-layout payloads:
#   sparse    full pipeline: cluster lines, assign, reading order (default)
#   word      like 'line': all words onto line 1, x-sorted (the caller may
#             treat the result as one token; assembly is identical — this
#             x-only order is the pinned, oracle-certified contract)
#   line      whole payload is one text line → words x-sorted onto line 1
#   raw_line  no box analysis at all: input order, single line
#   multiline no clustering: each distinct y value is its own line
PSM_MODES = ("sparse", "word", "line", "raw_line", "multiline")


def _normalize_mode(mode: str | None) -> str:
    # unknown/None → sparse (PSMode.from_value, box_processor.py:150-162)
    m = (mode or "sparse").lower()
    return m if m in PSM_MODES else "sparse"


def _line_numbers(boxes_list: list[list[int]], mode: str) -> list[int]:
    """Per-word line number under the given (already-normalized) mode, for
    non-degenerate boxes. 1-based."""
    n = len(boxes_list)
    if mode in ("word", "line"):
        # single line: every word assigned line 1 ('word' additionally means
        # the caller treats the result as one token; assembly is identical)
        return [1] * n
    if mode == "multiline":
        # no clustering: each distinct y is a line, in ascending y order
        uniq = sorted({b[1] for b in boxes_list})
        rank = {y: i + 1 for i, y in enumerate(uniq)}
        return [rank[b[1]] for b in boxes_list]
    # sparse: band fast path for tidy pages; a miss (any overlap it can't
    # prove, duplicates, zero heights) takes the general IoU ladder
    fast = fast_band_lines(boxes_list)
    if fast is not None:
        return fast[1]
    boxes = np.asarray(boxes_list, dtype=np.int64)
    line_boxes = cluster_lines(boxes)
    return [int(v) for v in assign_lines(boxes, line_boxes)]


# Struct field order of the word and line tuples ``extract_layout`` emits —
# the field order of ``operators.extraction.WORD_TYPE``/``LINE_TYPE`` and
# the keys of the golden dict view (``core.extract_turn``).
WORD_FIELDS = ("id", "text", "confidence", "box", "line", "word_index")
LINE_FIELDS = ("line", "wordids", "text", "bbox", "confidence")


def extract_layout(
    texts_in: list[str],
    boxes_in: list[list[int]],
    mode: str = "sparse",
    with_structs: bool = True,
) -> tuple[str, list[tuple], list[tuple]]:
    """Assemble scrambled word boxes into reading-order lines and text.

    Returns ``(text, word_tuples, line_tuples)``: one tuple per word in
    ``WORD_FIELDS`` order and one per line in ``LINE_FIELDS`` order — the
    FIXTURES.md §3 schemas (ocr_processor.py:180-190/:241-247) laid out as
    the Arrow struct fields, so the Spark boundary converts them directly.

    ``with_structs=False`` returns ``(text, [], [])`` and skips every
    word/line struct allocation (ids, envelopes, confidences), which is
    most of the cost for the struct-free extraction queries; the text is
    the same.
    """
    mode = _normalize_mode(mode)
    # Degenerate-box filter (ocr_engine.py:277-287): zero/negative extents.
    # Zero-copy reuse when nothing is filtered (the overwhelmingly common
    # case) — neither list is mutated downstream.
    if all(b[2] > 0 and b[3] > 0 for b in boxes_in):
        texts, boxes_list = texts_in, boxes_in
    else:
        texts, boxes_list = [], []
        for t, b in zip(texts_in, boxes_in):
            if b[2] > 0 and b[3] > 0:
                texts.append(t)
                boxes_list.append(b)
    if not texts:
        return "", [], []
    n = len(texts)

    if mode == "raw_line":
        # no box analysis: input order, one line (box_processor.py:145-146)
        text = join_words(texts)
        if not with_structs:
            return text, [], []
        return (
            text,
            [
                (i, t, _WORD_CONF_R3, boxes_list[i], 1, i)
                for i, t in enumerate(texts)
            ],
            [
                (
                    1,
                    list(range(n)),
                    text,
                    envelope(boxes_list),
                    round(WORD_CONFIDENCE, 4),
                )
            ],
        )

    line_list = _line_numbers(boxes_list, mode)

    # LTR reindex by x (ocr_processor.py:160-190): id = rank in the stable
    # x order; bound method key avoids a lambda frame per element.
    xs = [b[0] for b in boxes_list]
    order = sorted(range(n), key=xs.__getitem__)

    if not with_structs:
        # text only: group word texts per line, x order preserved
        by_text: dict[int, list[str]] = {}
        get = by_text.get
        for idx in order:
            ln = line_list[idx]
            lst = get(ln)
            if lst is None:
                by_text[ln] = [texts[idx]]
            else:
                lst.append(texts[idx])
        return (
            join_lines([join_words(by_text[ln]) for ln in sorted(by_text)]),
            [],
            [],
        )

    # group (rank, index) per line in one pass (x order within the line is
    # preserved)
    by_line: dict[int, list[tuple[int, int]]] = {}
    get = by_line.get
    for rank, idx in enumerate(order):
        ln = line_list[idx]
        e = (rank, idx)
        lst = get(ln)
        if lst is None:
            by_line[ln] = [e]
        else:
            lst.append(e)

    # Per-line regroup in ascending line order (ocr_processor.py:210-247):
    # sequential word_index, " " text join, envelope bbox, avg confidence
    # round 4; turn text = line texts joined "\n" (meta_to_text).
    out_words: list[tuple] = []
    out_lines: list[tuple] = []
    line_texts: list[str] = []
    word_index = 0
    for i, ln in enumerate(sorted(by_line)):
        picks = by_line[ln]
        wordids = []
        wtexts = []
        pboxes = []
        for rank, idx in picks:
            out_words.append(
                (rank, texts[idx], _WORD_CONF_R3, boxes_list[idx], ln,
                 word_index)
            )
            word_index += 1
            wordids.append(rank)
            wtexts.append(texts[idx])
            pboxes.append(boxes_list[idx])
        ltext = join_words(wtexts)
        line_texts.append(ltext)
        out_lines.append(
            (
                i + 1,
                wordids,
                ltext,
                envelope(pboxes),
                round(sum(_WORD_CONF_R3 for _ in picks) / len(picks), 4),
            )
        )

    return join_lines(line_texts), out_words, out_lines
