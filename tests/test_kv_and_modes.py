"""PSM modes, grid rendering, entity spans, KV pairing."""

import json

import pytest

from marie_icr_spark.extractors.core import extract_turn
from marie_icr_spark.extractors.grid_render import render_grid_text
from marie_icr_spark.operators.kv import (
    aggregate_entity_spans,
    kv_pairs,
    merge_spans_horizontal,
)

# ---------- PSM modes (B6) ----------

PAYLOAD = json.dumps(
    [
        {"text": "bravo", "box": [60, 1, 45, 16]},
        {"text": "alpha", "box": [0, 0, 45, 16]},
        {"text": "delta", "box": [60, 21, 45, 16]},
        {"text": "charlie", "box": [0, 20, 63, 16]},
    ]
)


def test_mode_sparse_default():
    r = extract_turn(PAYLOAD)
    assert r.extracted_text == "alpha bravo\ncharlie delta"


def test_mode_line_single_line():
    r = extract_turn(PAYLOAD, mode="line")
    assert r.extracted_text == "alpha charlie bravo delta"  # pure x order
    assert len(r.lines) == 1


def test_mode_word_same_as_line_assembly():
    r = extract_turn(PAYLOAD, mode="word")
    assert r.span_count == 1


def test_mode_raw_line_keeps_input_order():
    r = extract_turn(PAYLOAD, mode="raw_line")
    assert r.extracted_text == "bravo alpha delta charlie"
    assert r.lines[0]["bbox"] == [0, 0, 105, 37]


def test_mode_multiline_groups_exact_y():
    r = extract_turn(PAYLOAD, mode="multiline")
    # y values 0,1,20,21 → four lines, ascending y
    assert r.extracted_text.split("\n") == ["alpha", "bravo", "charlie", "delta"]


def test_mode_unknown_falls_back_to_sparse():
    assert extract_turn(PAYLOAD, mode="bogus").extracted_text == (
        "alpha bravo\ncharlie delta"
    )


# ---------- grid renderer (W8) ----------

def test_render_grid_alignment_and_gaps():
    r = extract_turn(
        json.dumps(
            [
                {"text": "left", "box": [0, 0, 36, 16]},
                {"text": "right", "box": [338, 0, 45, 16]},
                {"text": "below", "box": [0, 64, 45, 16]},
            ]
        )
    )
    txt = render_grid_text(r.words, r.lines, page_width=800)
    rows = txt.split("\n")
    assert rows[0].startswith("left")
    col = rows[0].index("right")
    assert 35 <= col <= 45  # 338 / 8.44 ≈ 40
    # 64px gap = 4 char cells below baseline 16 → 3 blank rows between
    assert rows[1:4] == ["", "", ""]
    assert rows[4].startswith("below")


def test_render_grid_empty():
    assert render_grid_text([], [], 800) == ""


# ---------- entity spans + KV pairing (N4-N6) ----------

TOKENS = "doc_id long, line_no int, token_idx int, label string, text string, x int, y int, w int, h int, score double"


def test_aggregate_entity_spans(spark):
    rows = [
        (1, 1, 0, "key", "Invoice", 0, 0, 60, 16, 0.9),
        (1, 1, 1, "key", "Number", 70, 0, 60, 16, 0.8),
        (1, 1, 2, "O", ":", 140, 0, 10, 16, 0.5),
        (1, 1, 3, "value", "12345", 160, 0, 50, 16, 0.95),
        (1, 2, 0, "value", "stray", 0, 20, 40, 16, 0.7),
    ]
    out = aggregate_entity_spans(spark.createDataFrame(rows, TOKENS)).collect()
    spans = {(r["line_no"], r["label"]): r for r in out}
    k = spans[(1, "key")]
    assert k["span_text"] == "Invoice Number"
    assert [k["x"], k["y"], k["w"], k["h"]] == [0, 0, 130, 16]
    assert k["score"] == pytest.approx(0.85)
    assert (1, "O") not in spans  # 'O' filtered (F6)
    assert spans[(1, "value")]["span_text"] == "12345"


def test_merge_spans_horizontal(spark):
    spans = spark.createDataFrame(
        [
            (1, 1, "key", "Invoice", 0, 0, 60, 16, 0.9),
            (1, 1, "key", "Number", 50, 0, 60, 16, 0.8),  # overlaps previous
            (1, 1, "key", "faraway", 500, 0, 60, 16, 0.7),
        ],
        "doc_id long, line_no int, label string, span_text string, x int, y int, w int, h int, score double",
    )
    out = sorted(merge_spans_horizontal(spans).collect(), key=lambda r: r["x"])
    assert len(out) == 2
    assert out[0]["span_text"] == "Invoice Number"
    assert out[0]["w"] == 110 and out[0]["score"] == pytest.approx(0.9)


def test_kv_pairs(spark):
    spans = spark.createDataFrame(
        [
            (1, 1, "key", "Name", 0),
            (1, 1, "value", "wrongside", -5),   # left of key → not eligible
            (1, 1, "value", "Alice", 100),
            (1, 1, "value", "Bob", 200),        # second value ignored
            (1, 2, "value", "orphan", 0),       # no key on line → dropped
            (1, 3, "key", "Total", 10),         # no value → dropped
        ],
        "doc_id long, line_no int, label string, span_text string, x int",
    )
    out = kv_pairs(spans).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["key_text"], r["value_text"]) == ("Name", "Alice")
