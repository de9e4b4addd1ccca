"""Property-based fuzzing of the extraction core (hypothesis).

The reference has no property testing (SURVEY §5); these pin the engine's
hard contracts: never raise, deterministic, normalization idempotent, golden
join rules, and layout invariants under arbitrary boxes.
"""

import json

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from marie_icr_spark.extractors.boxmath import assign_lines, cluster_lines
from marie_icr_spark.extractors.core import extract_turn
from marie_icr_spark.extractors.textnorm import normalize_plain, span_count

any_text = st.text(max_size=400)
html_ish = st.text(
    alphabet="<>/ab p&#;\"'=!-\n\t xyz0123456789",
    max_size=300,
)


@settings(max_examples=200, deadline=None)
@given(any_text)
def test_extract_never_raises_and_is_deterministic(payload):
    r1 = extract_turn(payload)
    r2 = extract_turn(payload)
    assert r1.extracted_text == r2.extracted_text
    assert r1.payload_kind == r2.payload_kind
    assert r1.span_count == span_count(r1.extracted_text)


@settings(max_examples=200, deadline=None)
@given(html_ish)
def test_malformed_markup_never_raises(payload):
    r = extract_turn(payload)
    assert isinstance(r.extracted_text, str)
    # output never contains raw whitespace runs within a line
    for line in r.extracted_text.split("\n"):
        assert "  " not in line
        assert line == line.strip()


@settings(max_examples=200, deadline=None)
@given(any_text)
def test_plain_normalization_idempotent(payload):
    once = normalize_plain(payload)
    assert normalize_plain(once) == once


boxes_strategy = st.lists(
    st.tuples(
        st.integers(-50, 2000), st.integers(-50, 2000),
        st.integers(-5, 300), st.integers(-5, 40),
    ),
    min_size=0,
    max_size=40,
)

# 600 boxes in 75 clean 8-word rows (every 50th degenerate): a page past
# 512 boxes whose usable boxes hit the band fast path
# (boxmath.fast_band_lines), a size the 40-box strategy never reaches.
BIG_BAND_PAGE = [
    ((i % 8) * 70, (i // 8) * 22 + (i % 2), 60, -1 if i % 50 == 7 else 16)
    for i in range(600)
]


@settings(max_examples=150, deadline=None)
@given(boxes_strategy)
@example(BIG_BAND_PAGE)
def test_layout_invariants_arbitrary_boxes(boxes):
    payload = json.dumps(
        [{"text": f"w{i}", "box": list(b)} for i, b in enumerate(boxes)]
    )
    r = extract_turn(payload)
    assert r.payload_kind == "layout"
    usable = [b for b in boxes if b[2] > 0 and b[3] > 0]
    # every usable word appears exactly once, text round-trips
    assert len(r.words) == len(usable)
    assert sorted(w["word_index"] for w in r.words) == list(range(len(usable)))
    assert sorted(w["id"] for w in r.words) == list(range(len(usable)))
    joined = r.extracted_text.replace("\n", " ")
    assert sorted(joined.split()) == sorted(
        f"w{i}" for i, b in enumerate(boxes) if b[2] > 0 and b[3] > 0
    )
    # line ids are 1..L and wordids partition the words
    lids = [ln["line"] for ln in r.lines]
    assert lids == list(range(1, len(r.lines) + 1))
    all_wordids = sorted(wid for ln in r.lines for wid in ln["wordids"])
    assert all_wordids == list(range(len(usable)))


@settings(max_examples=100, deadline=None)
@given(boxes_strategy)
def test_cluster_assign_total_and_deterministic(boxes):
    b = np.array([x for x in boxes if x[2] > 0 and x[3] > 0], dtype=np.int64)
    b = b.reshape(-1, 4)
    lines = cluster_lines(b)
    if len(b):
        assert len(lines) >= 1
        out = assign_lines(b, lines)
        assert (out >= 1).all() and (out <= len(lines)).all()
        assert (cluster_lines(b) == lines).all()


@settings(max_examples=150, deadline=None)
@given(boxes_strategy)
@example(BIG_BAND_PAGE)
def test_lean_text_path_equals_struct_path_all_modes(boxes):
    """extract_turn(with_structs=False) must be byte-identical in text and
    span_count to the struct path, for every PSM mode, on arbitrary boxes."""
    from marie_icr_spark.extractors.layout import PSM_MODES

    payload = json.dumps(
        [{"text": f"w{i}", "box": list(b)} for i, b in enumerate(boxes)]
    )
    for mode in PSM_MODES:
        a = extract_turn(payload, mode=mode, with_structs=True)
        b_ = extract_turn(payload, mode=mode, with_structs=False)
        assert a.extracted_text == b_.extracted_text, mode
        assert a.span_count == b_.span_count, mode
        assert b_.words == [] and b_.lines == []


@settings(max_examples=100, deadline=None)
@given(boxes_strategy)
@example(BIG_BAND_PAGE)
def test_band_fast_path_equals_ladder(boxes):
    """Whenever fast_band_lines fires on the usable boxes (the ones sparse
    mode clusters), its line boxes and per-word line numbers equal the
    general IoU ladder's."""
    from tests.test_boxmath import _ladder_agrees

    _ladder_agrees([list(x) for x in boxes if x[2] > 0 and x[3] > 0])


# -- subword tokenizer contract (extractors/subword.py) ----------------------

_sw_tok = None


def _subword_tok():
    global _sw_tok
    if _sw_tok is None:
        from marie_icr_spark.extractors.subword import (
            WordPieceTokenizer,
            default_vocab_path,
            load_vocab,
        )

        _sw_tok = WordPieceTokenizer.from_vocab(load_vocab(default_vocab_path()))
    return _sw_tok


@given(st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_subword_encode_never_raises_and_aligns(text):
    """Any unicode input: encode_text never raises, ids/word_ids align,
    every id is a valid vocab id, and encoding is deterministic."""
    from marie_icr_spark.extractors.subword import default_vocab_path, load_vocab

    tok = _subword_tok()
    n_vocab = len(load_vocab(default_vocab_path()))
    ids, wids = tok.encode_text(text)
    ids2, wids2 = tok.encode_text(text)
    assert (ids, wids) == (ids2, wids2)
    assert len(ids) == len(wids)
    assert all(0 <= i < n_vocab for i in ids)
    assert wids == sorted(wids)  # word ordinals are non-decreasing


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
@settings(max_examples=200, deadline=None)
def test_subword_pieces_reconstruct_ascii_words(text):
    """For ASCII words, concatenating the matched pieces reconstructs the
    word exactly (greedy matching consumes every character; [UNK] chars
    excepted — they consume exactly one unknown char each)."""
    from marie_icr_spark.extractors.subword import UNK_ID

    tok = _subword_tok()
    inv_init = {i: p for p, i in tok.initial.items()}
    inv_cont = {i: p for p, i in tok.cont.items()}
    for word in " ".join(text.split()).split(" "):
        pieces = tok.encode_word(word)
        pos = 0
        for k, pid in enumerate(pieces):
            if pid == UNK_ID:
                pos += 1
                continue
            p = (inv_init if pos == 0 else inv_cont).get(pid)
            # a non-UNK piece must match the word at pos
            assert p is not None and word[pos:pos + len(p)] == p, (
                word, pieces, k)
            pos += len(p)
        assert pos == len(word), (word, pieces)


@given(
    st.integers(min_value=0, max_value=5000),
    st.integers(min_value=3, max_value=512),
    st.integers(min_value=0, max_value=400),
)
@settings(max_examples=300, deadline=None)
def test_window_spans_cover_exactly(n, max_length, stride):
    """Window spans: cover [0, n) exactly, starts advance by C - stride,
    every span non-empty and <= C."""
    from marie_icr_spark.extractors.subword import window_spans

    c = max_length - 2
    if not 0 <= stride < c:
        return
    spans = window_spans(n, max_length, stride)
    if n == 0:
        assert spans == []
        return
    assert spans[0][0] == 0 and spans[-1][1] == n
    for s, e in spans:
        assert 0 < e - s <= c
    for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
        assert s1 - s0 == c - stride
        assert s1 < e0 or e0 == s1  # contiguous-or-overlapping
        assert s1 <= e0  # no gaps
    covered = set()
    for s, e in spans:
        covered |= set(range(s, e))
    assert covered == set(range(n))
