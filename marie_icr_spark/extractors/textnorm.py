"""Whitespace / entity normalization shared by all payload extractors.

The join contract is pinned to the reference byte-for-byte
(SURVEY.md §2.7 C8): words within a line are joined with ``" "``
(``marie/document/ocr_processor.py:237``), lines within a turn with ``"\n"``
(``marie/ocr/util.py:76-82``), turns within a conversation with ``"\f"``
(``marie/renderer/text_renderer.py:158-172``).
"""

from __future__ import annotations

WORD_JOIN = " "
LINE_JOIN = "\n"
TURN_JOIN = "\f"


def collapse_ws(text: str) -> str:
    """Collapse all whitespace runs to single spaces and trim.

    ``" ".join(text.split())`` is exactly equivalent to
    ``re.sub(r"\\s+", " ", text).strip()`` (both use the Unicode whitespace
    set) and runs entirely in C — ~4x faster on the hot extraction path."""
    return " ".join(text.split())


def normalize_plain(text: str) -> str:
    """Fail-open plain-text path: identity modulo whitespace normalization
    (contract of marie/pipe/extract_pipeline.py:143-154 — cleanup must never
    destroy content). Each input line is whitespace-collapsed; empty lines
    are dropped; survivors joined with LINE_JOIN."""
    lines = [collapse_ws(ln) for ln in text.split("\n")]
    return LINE_JOIN.join(ln for ln in lines if ln)


def join_words(words: list[str]) -> str:
    return WORD_JOIN.join(words)


def join_lines(lines: list[str]) -> str:
    return LINE_JOIN.join(lines)


def span_count(extracted_text: str) -> int:
    """Number of extracted line spans (lineage metric)."""
    if not extracted_text:
        return 0
    return extracted_text.count(LINE_JOIN) + 1
