"""Output pin for the per-turn extractor.

``extraction_pin.json`` holds, for every PSM mode, one sha256 over a
canonical JSON of ``extract_turn_arrow(p, mode)`` for every payload of a
fixed corpus: the ``synth_transcripts(seed=42)`` payloads, seeded layout
pages of 0, 1, 5, 40 and 600 words (some with degenerate boxes; the
600-word pages take the band fast path and the IoU ladder) and the
oversized-coordinate payloads. A refactor of the extractors must leave
every hash unchanged.

Regenerate (only for a deliberate output change, and say why):
``PYTHONPATH=.:tests python tests/test_extraction_pin.py --write``.
"""

import hashlib
import json
import pathlib
import sys

import numpy as np

from marie_icr_spark.extractors.core import extract_turn, extract_turn_arrow
from marie_icr_spark.extractors.layout import PSM_MODES
from marie_icr_spark.operators.extraction import LINE_TYPE, WORD_TYPE
from marie_icr_spark.sources.transcripts import synth_transcripts
from test_extractors_unit import OVERSIZED_LAYOUTS

PIN = pathlib.Path(__file__).parent / "extraction_pin.json"


def _page(rng: np.random.RandomState, n: int, scattered: bool) -> str:
    """n layout words: tidy 8-word rows, or boxes scattered over the page
    (which defeats the band fast path); ~1 in 10 boxes degenerate."""
    words = []
    for i in range(n):
        if scattered:
            box = [int(rng.randint(0, 1200)), int(rng.randint(0, 1600)),
                   int(rng.randint(5, 120)), int(rng.randint(8, 30))]
        else:
            box = [(i % 8) * 70 + int(rng.randint(0, 5)),
                   (i // 8) * 22 + int(rng.randint(0, 2)), 60, 16]
        if rng.rand() < 0.1:
            box[2 + int(rng.randint(0, 2))] = int(rng.randint(-3, 1))
        words.append({"text": f"w{i}", "box": box})
    return json.dumps([words[j] for j in rng.permutation(n)])


def corpus() -> list[str]:
    transcripts, _ = synth_transcripts(seed=42)
    payloads = list(transcripts["text"])
    rng = np.random.RandomState(7)
    for n in (0, 1, 5, 40, 600):
        payloads.append(_page(rng, n, scattered=False))
        payloads.append(_page(rng, n, scattered=True))
    payloads.extend(OVERSIZED_LAYOUTS.values())
    return payloads


def _digest(rows) -> str:
    blob = json.dumps(rows, ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def arrow_digests(payloads: list[str]) -> dict[str, str]:
    return {
        mode: _digest([extract_turn_arrow(p, mode=mode) for p in payloads])
        for mode in PSM_MODES
    }


def _fields(array_type) -> list[str]:
    return [f.name for f in array_type.elementType.fields]


def test_extraction_output_is_pinned():
    payloads = corpus()
    assert _digest(payloads) == json.loads(PIN.read_text())["corpus"]
    got = arrow_digests(payloads)
    assert got == json.loads(PIN.read_text())["modes"]

    # the golden dict view, re-ordered into the Spark struct field order,
    # is the same output; the text-only path agrees on (kind, text, spans)
    wf, lf = _fields(WORD_TYPE), _fields(LINE_TYPE)
    for mode in PSM_MODES:
        rows = []
        for p in payloads:
            r = extract_turn(p, mode=mode)
            rows.append((
                r.payload_kind, r.extracted_text, r.span_count,
                [[w[f] for f in wf] for w in r.words],
                [[ln[f] for f in lf] for ln in r.lines],
            ))
            lean = extract_turn(p, mode=mode, with_structs=False)
            assert (lean.payload_kind, lean.extracted_text, lean.span_count) \
                == rows[-1][:3], mode
            assert lean.words == [] and lean.lines == [], mode
        assert _digest(rows) == got[mode], mode


if __name__ == "__main__":
    if "--write" in sys.argv:
        payloads = corpus()
        PIN.write_text(json.dumps(
            {"corpus": _digest(payloads), "modes": arrow_digests(payloads)},
            indent=1,
        ) + "\n")
