"""Per-turn extraction dispatcher — the Spark-free twin of the engine.

Sniffs the payload kind of a turn's ``text`` and routes to the matching
extractor, mirroring the reference's engine-selection contract
(``marie/ocr/util.py:89-151``; PSM dispatch ``marie/boxes/box_processor.py:129-162``):

  layout   JSON word boxes (tool turns like pdf_reader)  → extractors.layout
  html     embedded HTML fragments                       → extractors.html
  markdown fenced/tool-call-noise markdown               → extractors.markdown
  plain    anything else (fail-open identity+normalize)  → extractors.textnorm
  empty    blank/whitespace payloads → empty result, never an error
           (blank-page contract, marie/document/ocr_processor.py:146-154)

There is one dispatcher, ``extract_turn_arrow``: the Spark operator
(``operators.extraction``) calls it per turn inside ``mapInArrow`` and gets
the layout structs as field-ordered tuples. ``extract_turn`` is its golden
view — the same result with each struct tuple zipped with its field names
into a dict — used as the single-process reference that produces golden
outputs for the correctness gate (pattern of
marie/ocr/mock_ocr_engine.py:35-53).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from .html import extract_html, looks_like_html
from .layout import (
    LINE_FIELDS,
    WORD_FIELDS,
    extract_layout,
    parse_layout_payload,
)
from .markdown import extract_markdown, looks_like_markdown
from .textnorm import normalize_plain, span_count


@dataclass
class TurnExtraction:
    extracted_text: str
    span_count: int
    payload_kind: str
    words: list[dict[str, Any]] = field(default_factory=list)
    lines: list[dict[str, Any]] = field(default_factory=list)


def _sniff(text: str) -> tuple[str, tuple[list, list] | None]:
    """Classify a turn payload; returns (kind, parsed (texts, boxes)|None).
    Order matters and is pinned: empty → layout(JSON) → html → markdown →
    plain."""
    # lstrip() is empty iff strip() is empty, so one scan decides both the
    # blank-payload case and the JSON first-char probe
    s = text.lstrip() if text is not None else ""
    if not s:
        return "empty", None
    if s[0] in "[{":
        parsed = parse_layout_payload(text)
        if parsed is not None:
            return "layout", parsed
    if looks_like_html(text):
        return "html", None
    if looks_like_markdown(text):
        return "markdown", None
    return "plain", None


def extract_turn_arrow(
    text: str | None, mode: str = "sparse", with_structs: bool = True
) -> tuple[str, str, int, list[tuple], list[tuple]]:
    """Extract the main content of one turn payload: returns
    ``(payload_kind, extracted_text, span_count, word_tuples, line_tuples)``
    with the layout structs as tuples in ``WORD_FIELDS``/``LINE_FIELDS``
    order, the Arrow struct field order. Never raises on malformed input
    (fail-open contract, marie/pipe/extract_pipeline.py:143-154).
    ``mode`` is the PSM contract for layout payloads (PSM_MODES);
    ``with_structs=False`` builds no word/line structs (identical text)."""
    text = text or ""
    kind, parsed = _sniff(text)
    if kind == "empty":
        return "empty", "", 0, [], []
    if kind == "layout":
        out, words, lines = extract_layout(
            *parsed, mode=mode, with_structs=with_structs
        )
        return "layout", out, span_count(out), words, lines
    if kind == "html":
        out = extract_html(text)["text"]
    elif kind == "markdown":
        out = extract_markdown(text)["text"]
    else:
        out = normalize_plain(text)
    return kind, out, span_count(out), [], []


def extract_turn(
    text: str | None, mode: str = "sparse", with_structs: bool = True
) -> TurnExtraction:
    """``extract_turn_arrow`` with the word/line structs as field-name
    dicts — the golden view that tests and ``synth_transcripts`` read."""
    kind, out, spans, words, lines = extract_turn_arrow(text, mode, with_structs)
    return TurnExtraction(
        out, spans, kind,
        words=[dict(zip(WORD_FIELDS, w)) for w in words],
        lines=[dict(zip(LINE_FIELDS, ln)) for ln in lines],
    )
