"""Golden-style unit tests for the pure-Python extractor twin."""

import json

from marie_icr_spark.extractors.core import extract_turn
from marie_icr_spark.extractors.html import extract_html
from marie_icr_spark.extractors.layout import parse_layout_payload
from marie_icr_spark.extractors.markdown import extract_markdown
from marie_icr_spark.extractors.textnorm import normalize_plain, span_count


# ---------- sniffing ----------

def test_sniff_kinds():
    def kind(text):
        return extract_turn(text).payload_kind

    assert kind("") == "empty"
    assert kind("  \n\t ") == "empty"
    assert kind('[{"text":"a","box":[0,0,5,5]}]') == "layout"
    assert kind("<p>hello</p>") == "html"
    assert kind("# title\n\nbody") == "markdown"
    assert kind("```\nx\n```") == "markdown"
    assert kind("just some words") == "plain"
    # JSON that is not layout-shaped falls through to plain
    assert kind('{"a": 1}') == "plain"
    # math like 3 < 5 is not html
    assert kind("3 < 5 and 7 > 2") == "plain"


# ---------- plain ----------

def test_plain_normalization():
    assert normalize_plain("  a   b \n\n c\t d \n") == "a b\nc d"
    assert span_count("a b\nc d") == 2
    assert span_count("") == 0


# ---------- layout ----------

def _word(t, x, y, w=None, h=16):
    return {"text": t, "box": [x, y, w if w is not None else 9 * len(t), h]}


def test_layout_two_lines_scrambled():
    words = [
        _word("world", 60, 0),
        _word("bottom", 0, 20),
        _word("hello", 0, 0),
        _word("row", 70, 20),
    ]
    payload = json.dumps(words[::-1])
    res = extract_turn(payload)
    assert res.payload_kind == "layout"
    assert res.extracted_text == "hello world\nbottom row"
    assert res.span_count == 2
    # word ids are x-rank, word_index is (line, x) sequential
    by_index = sorted(res.words, key=lambda w: w["word_index"])
    assert [w["text"] for w in by_index] == ["hello", "world", "bottom", "row"]
    assert res.lines[0]["text"] == "hello world"
    assert res.lines[0]["line"] == 1
    assert res.lines[0]["wordids"] == [w["id"] for w in by_index[:2]]
    # line bbox is the envelope of its words
    assert res.lines[0]["bbox"] == [0, 0, 60 + 9 * 5, 16]
    assert res.lines[0]["confidence"] == 1.0


def test_layout_degenerate_boxes_dropped():
    payload = json.dumps([_word("ok", 0, 0), {"text": "bad", "box": [5, 5, 0, 0]}])
    res = extract_turn(payload)
    assert res.extracted_text == "ok"
    assert len(res.words) == 1


def test_layout_empty_list():
    res = extract_turn("[]")
    assert res.payload_kind == "layout"
    assert res.extracted_text == "" and res.span_count == 0


def test_layout_overlapping_multiline():
    # three ragged lines with slight vertical jitter still cluster correctly
    words = []
    for ln, y in enumerate((0, 21, 39)):
        for j, t in enumerate(("alpha", "beta", "gamma")):
            words.append(_word(f"{t}{ln}", j * 60, y + (j % 2), h=16))
    res = extract_turn(json.dumps(words[::-1]))
    assert res.extracted_text.split("\n") == [
        "alpha0 beta0 gamma0",
        "alpha1 beta1 gamma1",
        "alpha2 beta2 gamma2",
    ]


def test_parse_layout_rejects_non_layout():
    assert parse_layout_payload('{"a":1}') is None
    assert parse_layout_payload("[1,2,3]") is None
    assert parse_layout_payload('[{"text":"x"}]') is None
    assert parse_layout_payload("not json [") is None


def _layout(*boxes):
    return json.dumps([{"text": f"w{i}", "box": b} for i, b in enumerate(boxes)])


# Boxes whose coordinates leave [-2^30, 2^30): each used to extract as
# layout and then break the int32 struct fields (or, at 2^63, the golden
# twin's int64 box math).
OVERSIZED_LAYOUTS = {
    "coordinate_ge_2_31": _layout([2**31, 0, 5, 5]),
    "x_plus_w_overflow": _layout([0, 0, 2**31, 5]),
    "union_width_overflow": _layout([-(2**31) + 1, 0, 5, 5], [2**31 - 10, 0, 5, 5]),
    "coordinate_2_63": _layout([2**63, 0, 5, 5]),
}


def test_layout_coordinate_range_edges():
    lo, hi = -(2**30), 2**30
    assert parse_layout_payload(_layout([lo, lo, 5, 5])) is not None
    assert parse_layout_payload(_layout([hi - 6, hi - 6, 5, 5])) is not None
    assert parse_layout_payload(_layout([hi - 5, 0, 5, 5])) is None
    assert parse_layout_payload(_layout([0, hi - 5, 5, 5])) is None
    assert parse_layout_payload(_layout([lo - 1, 0, 5, 5])) is None
    assert parse_layout_payload(_layout([0, 0, 5.0, float(hi)])) is None


def test_oversized_layout_boxes_are_not_layout_and_twins_agree():
    from marie_icr_spark.extractors.core import extract_turn_arrow

    for name, payload in OVERSIZED_LAYOUTS.items():
        assert parse_layout_payload(payload) is None, name
        gold = extract_turn(payload)
        kind, text, spans, words, lines = extract_turn_arrow(payload)
        assert gold.payload_kind != "layout", name
        assert (kind, text, spans) == (
            gold.payload_kind, gold.extracted_text, gold.span_count
        ), name
        assert words == [] and lines == [] and gold.words == [], name


def test_oversized_layout_boxes_struct_extraction_completes(spark):
    from marie_icr_spark.operators.extraction import extract_turns
    from marie_icr_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    rows = [
        ("c", i, "user", p, None, None)
        for i, p in enumerate(OVERSIZED_LAYOUTS.values())
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    got = {
        r["turn_idx"]: r for r in extract_turns(df, with_structs=True).collect()
    }
    assert len(got) == len(OVERSIZED_LAYOUTS)
    for i, payload in enumerate(OVERSIZED_LAYOUTS.values()):
        gold = extract_turn(payload)
        assert got[i]["payload_kind"] == gold.payload_kind
        assert got[i]["extracted_text"] == gold.extracted_text
        assert got[i]["words"] == [] and got[i]["lines"] == []


# ---------- html ----------

def test_html_boilerplate_stripped():
    src = (
        "<html><head><title>T</title><style>p{}</style></head><body>"
        "<nav><ul><li><a href='#'>Home</a></li><li><a href='#'>About</a></li></ul></nav>"
        "<div id='main'><p>first line here</p><p>second line here</p></div>"
        "<div class='cookie-banner'>We use cookies</div>"
        "<footer><a href='#'>Privacy</a></footer>"
        "<script>var x = '<p>not content</p>';</script>"
        "</body></html>"
    )
    res = extract_html(src)
    assert res["text"] == "first line here\nsecond line here"
    assert res["blocks"] == 2


def test_html_link_density():
    src = (
        "<div><a>one</a> <a>two</a> <a>three</a> glue</div>"
        "<div>real content with <a>a link</a> inside a long sentence</div>"
    )
    res = extract_html(src)
    assert res["text"] == "real content with a link inside a long sentence"


def test_html_malformed_fail_open():
    src = "<div><p>unclosed paragraph<p>next one<div>deep text"
    res = extract_html(src)
    assert res["text"].split("\n") == ["unclosed paragraph", "next one", "deep text"]


def test_html_entities_and_comments():
    src = "<p>a &amp; b &lt;c&gt;</p><!-- hidden --><p>d</p>"
    assert extract_html(src)["text"] == "a & b <c>\nd"


def test_html_br_splits_blocks():
    assert extract_html("<p>one<br>two</p>")["text"] == "one\ntwo"


def test_extract_turn_html():
    res = extract_turn("<p>x y</p><footer>f</footer>")
    assert res.payload_kind == "html"
    assert res.extracted_text == "x y"
    assert res.span_count == 1


# ---------- markdown ----------

def test_markdown_fences_and_toolcalls():
    src = (
        "# Title here\n\n"
        "first paragraph words\n\n"
        "```json\n{\"tool\": \"bash\", \"args\": {}}\n```\n\n"
        '{"tool_call": {"name": "browser"}}\n\n'
        "QWxvbmdiYXNlNjRibG9iQWxvbmdiYXNlNjRibG9iQWxvbmdiYXNlNjQ=\n\n"
        "second paragraph words\n"
    )
    res = extract_markdown(src)
    assert res["text"] == "Title here\nfirst paragraph words\nsecond paragraph words"
    assert res["blocks"] == 3


def test_markdown_multiline_paragraph_joins():
    src = "line one\nline two\n\nnext para"
    assert extract_markdown(src)["text"] == "line one line two\nnext para"


def test_markdown_bullets_quotes():
    src = "- item one\n- item two\n\n> quoted text\n\n1. numbered"
    res = extract_markdown(src)
    assert res["text"] == "item one item two\nquoted text\nnumbered"


def test_markdown_unclosed_fence_drops_rest():
    src = "keep this\n\n```\nlost\nlost too"
    assert extract_markdown(src)["text"] == "keep this"


# ---------- dispatcher ----------

def test_extract_turn_never_raises():
    for bad in ["", None, "[", "{", "<", "<a", "```", "\x00\x01", "[{]}", "{}"]:
        res = extract_turn(bad)
        assert res.payload_kind in ("empty", "plain", "markdown", "html", "layout")


def test_html_quoted_gt_does_not_truncate_tag():
    """A '>' inside a quoted attribute value is attribute data, not the
    tag end: the attribute must be seen whole (boilerplate detection on
    the real value) and nothing from the tag may leak as content."""
    from marie_icr_spark.extractors.html import extract_html

    out = extract_html('<div class="a>b">text</div>')
    assert out["text"] == "text"  # no 'b">' junk words
    # boilerplate keyword AFTER the quoted '>' still strips the block
    out2 = extract_html(
        '<div class="x>cookie-banner">We use cookies</div><p>real</p>'
    )
    assert "cookies" not in out2["text"]
    assert "real" in out2["text"]


def test_html_uppercase_attr_names_feed_boilerplate():
    """HTML attribute names are case-insensitive: CLASS= must reach the
    boilerplate heuristic like class= does."""
    from marie_icr_spark.extractors.html import extract_html

    out = extract_html(
        '<div CLASS="cookie-banner">We use cookies</div><p>keep this</p>'
    )
    assert "cookies" not in out["text"]
    assert "keep this" in out["text"]
