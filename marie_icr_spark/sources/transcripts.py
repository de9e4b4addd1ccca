"""Deterministic transcript synthesis (schema = BASELINE.json input_hint).

Two generators:

* :func:`transcripts_from_docs` — derives a transcript table from the
  driver's ``documents.parquet`` with *invertible* payload construction: each
  document's text is reflowed into canonical 8-word lines and wrapped into an
  HTML / layout-JSON / markdown / plain / empty payload depending on
  ``doc_id``. The expected extraction output is therefore computable in pure
  SQL from ``documents.text`` (see ``__spark_entry__.oracle_sql``), which
  makes the non-relational extraction pipeline hash-checkable against DuckDB.

* :func:`synth_transcripts` — FIXTURES.md-style messy generator (Zipf-skewed
  conversation lengths, malformed HTML, jittered/degenerate boxes, shuffled
  row order) whose goldens come from the pure-Python twin
  (``extractors.core.extract_turn``) — the MockOcrEngine golden pattern
  (``marie/ocr/mock_ocr_engine.py:35-53``).

Payload-kind buckets (pinned): ``doc_id % 100`` in [0,40) html, [40,65)
layout, [65,90) markdown, [90,98) plain, [98,100) empty — the FIXTURES.md §2
proportions.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import load_table

WORDS_PER_LINE = 8
CONV_MOD = 89  # documents → conversations: conv = doc_id % 89
# unix seconds of 2025-01-01 00:00:00 **as UTC**, pinned as an integer so
# ts derivation never depends on the session timezone (unix_timestamp parses
# string literals in session-local time — a silent env dependency otherwise)
EPOCH_UNIX = 1_735_689_600

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

_ROLES = ("user", "assistant", "tool", "system")


def canonical_lines(text_col: Column) -> Column:
    """Reflow raw document text into canonical 8-word lines (array<string>).

    The extraction golden for every payload kind is these lines joined "\\n".
    """
    words = F.split(F.regexp_replace(F.trim(text_col), r"\s+", " "), " ")
    nlines = F.ceil(F.size(words) / F.lit(float(WORDS_PER_LINE))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda i: F.array_join(
            F.slice(words, i * WORDS_PER_LINE + 1, WORDS_PER_LINE), " "
        ),
    )


def _escape_html(line: Column) -> Column:
    e = F.replace(line, F.lit("&"), F.lit("&amp;"))
    e = F.replace(e, F.lit("<"), F.lit("&lt;"))
    return F.replace(e, F.lit(">"), F.lit("&gt;"))


def _html_payload(lines: Column) -> Column:
    body = F.array_join(
        F.transform(
            lines, lambda l: F.concat(F.lit("<p>"), _escape_html(l), F.lit("</p>"))
        ),
        "",
    )
    return F.concat(
        F.lit(
            "<html><head><title>doc</title><style>.m{color:#000}</style></head>"
            "<body><nav><ul><li><a href=\"#\">Home</a></li>"
            "<li><a href=\"#\">About</a></li></ul></nav>"
            "<div class=\"cookie-banner\">We use cookies <a href=\"#\">Accept</a></div>"
            "<div id=\"content\">"
        ),
        body,
        F.lit(
            "</div><footer><a href=\"#\">Privacy</a> <a href=\"#\">Terms</a></footer>"
            "<script>var a=1;</script></body></html>"
        ),
    )


def _markdown_payload(lines: Column) -> Column:
    return F.concat(
        F.array_join(lines, "\n\n"),
        F.lit(
            "\n\n```json\n{\"tool\": \"bash\", \"args\": {\"cmd\": \"ls\"}}\n```\n\n"
            "QWxvbmdiYXNlNjRibG9iftw0Tm9pc2VQYXlsb2FkQmxvYkJsb2JCbG9i\n"
        ),
    )


def _plain_payload(lines: Column) -> Column:
    # whitespace noise the normalizer must undo: tab prefix, doubled spaces,
    # blank separator lines
    return F.concat(
        F.lit("\t"),
        F.regexp_replace(F.array_join(lines, "\n\n"), " ", "  "),
        F.lit(" \n"),
    )


@F.pandas_udf(T.StringType())
def _layout_payload_udf(doc_id: pd.Series, lines: pd.Series) -> pd.Series:
    """Serialize canonical lines as scrambled layout-JSON word boxes.

    Grid: line ``ln`` occupies the band y = ln*20, h = 16; a word at char
    offset c gets x = 9*c, w = 9*len(word) (char-cell constants in the spirit
    of marie/renderer/text_renderer.py:49-53). Word order is scrambled by
    md5(doc_id:i) so the engine must reconstruct reading order.
    """
    out = []
    for did, lns in zip(doc_id, lines):
        if lns is None:
            # Spark evaluates Python UDFs unconditionally, even inside an
            # F.when branch (ExtractPythonUDFs pulls them out) — the caller
            # nulls the input for non-layout rows so ~75% of rows take this
            # O(1) exit instead of paying the md5+json serialization
            out.append(None)
            continue
        entries = []
        gi = 0
        for ln, line in enumerate(lns):
            x = 0
            for w in line.split(" "):
                key = hashlib.md5(f"{did}:{gi}".encode()).hexdigest()
                entries.append(
                    (key, {"text": w, "box": [x, ln * 20, 9 * len(w), 16]})
                )
                x += 9 * (len(w) + 1)
                gi += 1
        entries.sort(key=lambda kv: kv[0])
        out.append(
            json.dumps([e[1] for e in entries], separators=(",", ":"))
        )
    return pd.Series(out, dtype="object")


def transcripts_from_docs(
    spark: SparkSession, sf_dir: str, replicate: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Transcript table deterministically derived from ``documents.parquet``.

    ``replicate > 1`` fans each document out into that many turns (for bench
    scale); payload construction is identical per replica. Output columns are
    exactly the input_hint schema.

    ``partitions`` repartitions the exploded (doc_id, text, rep) rows BEFORE
    payload construction: documents.parquet is a single split at small SF, so
    without it every payload is built on one task no matter how many cores
    the session has. Pass it on any path that consumes the frame directly at
    replicate > 1 (bench/stress); paths that land in a shuffle right away can
    leave it unset and let the shuffle fan out.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if replicate > 1:
        docs = docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        ).withColumn("vid", F.col("doc_id") * replicate + F.col("rep"))
    else:
        docs = docs.withColumn("vid", F.col("doc_id"))
    if partitions:
        docs = docs.repartition(partitions)

    conv_mod = CONV_MOD * max(1, int(np.sqrt(replicate)))
    d = (
        docs.withColumn("kb", (F.col("vid") % 100).cast("int"))
        .withColumn(
            "conv_id",
            F.concat(
                F.lit("conv-"),
                F.lpad((F.col("vid") % conv_mod).cast("string"), 6, "0"),
            ),
        )
        .withColumn("turn_idx", (F.col("vid") / conv_mod).cast("int"))
        .withColumn("lines", canonical_lines(F.col("text")))
    )

    kb = F.col("kb")
    # null the UDF's input outside the layout band: the pandas UDF itself
    # is evaluated for EVERY row regardless of the F.when branch (Catalyst
    # extracts Python UDFs before the projection), so the null gate is
    # what actually skips the md5+json work for the other ~75% of rows
    layout_lines_in = F.when((kb >= 40) & (kb < 65), F.col("lines"))
    payload = (
        F.when(kb < 40, _html_payload(F.col("lines")))
        .when(kb < 65, _layout_payload_udf(F.col("vid"), layout_lines_in))
        .when(kb < 90, _markdown_payload(F.col("lines")))
        .when(kb < 98, _plain_payload(F.col("lines")))
        .when(kb % 2 == 0, F.lit(""))
        .otherwise(F.lit("  \n "))
    )
    role = F.element_at(
        F.array(*[F.lit(r) for r in _ROLES]), (F.col("vid") % 4).cast("int") + 1
    )
    tool = (
        F.when(kb < 40, F.lit("browser"))
        .when(kb < 65, F.lit("pdf_reader"))
        .otherwise(F.lit(""))
    )
    ts = F.timestamp_seconds(F.lit(EPOCH_UNIX) + F.col("vid"))

    return d.select(
        F.col("conv_id"),
        F.col("turn_idx"),
        role.alias("role"),
        payload.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


# ---------------------------------------------------------------------------
# Messy Zipf generator + twin goldens (for pytest)
# ---------------------------------------------------------------------------

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu data spark table query merge window batch stream filter"
).split()


def _rand_words(rng: np.random.RandomState, n: int) -> list[str]:
    return [_VOCAB[i] for i in rng.randint(0, len(_VOCAB), n)]


def _messy_html(rng: np.random.RandomState) -> str:
    nlines = rng.randint(1, 6)
    paras = []
    for _ in range(nlines):
        body = " ".join(_rand_words(rng, rng.randint(3, 9)))
        if rng.rand() < 0.3:  # malformed: unclosed paragraph
            paras.append(f"<p>{body}")
        else:
            paras.append(f"<p>{body}</p>")
    nav = "<nav><ul>" + "".join(
        f"<li><a href='#'>{w}</a></li>" for w in _rand_words(rng, 3)
    ) + "</ul></nav>"
    linky = "<div>" + " ".join(
        f"<a href='#'>{w}</a>" for w in _rand_words(rng, 4)
    ) + "</div>"
    pieces = [nav, "<div id='art'>", *paras, "</div>", linky,
              "<footer>fine print</footer>", "<script>x<y&&z</script>"]
    if rng.rand() < 0.5:
        pieces.insert(0, "<!DOCTYPE html><html><body>")
    return "".join(pieces)


def _messy_layout(rng: np.random.RandomState) -> str:
    nlines = rng.randint(1, 5)
    entries = []
    for ln in range(nlines):
        x = int(rng.randint(0, 30))
        y = ln * rng.randint(18, 26) + int(rng.randint(0, 3))
        for w in _rand_words(rng, rng.randint(1, 7)):
            entries.append({"text": w, "box": [x, y, 9 * len(w), 16]})
            x += 9 * (len(w) + 1) + int(rng.randint(0, 4))
    if rng.rand() < 0.2 and entries:  # degenerate zero-area box
        entries.append({"text": "ghost", "box": [0, 0, 0, 0]})
    order = rng.permutation(len(entries))
    return json.dumps([entries[i] for i in order])


def _messy_markdown(rng: np.random.RandomState) -> str:
    parts = [f"# {' '.join(_rand_words(rng, 3))}", ""]
    for _ in range(rng.randint(1, 4)):
        parts += [" ".join(_rand_words(rng, rng.randint(4, 10))), ""]
    parts += ["```json", '{"tool": "browser", "args": {}}', "```", ""]
    if rng.rand() < 0.5:
        parts += ["- " + " ".join(_rand_words(rng, 3)),
                  "- " + " ".join(_rand_words(rng, 2)), ""]
    return "\n".join(parts)


def _messy_plain(rng: np.random.RandomState) -> str:
    lines = ["  ".join(_rand_words(rng, rng.randint(2, 8)))
             for _ in range(rng.randint(1, 4))]
    return " \n\n ".join(lines)


def synth_transcripts(
    n_convs: int = 60, seed: int = 42, hot_factor: int = 40
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Zipf-skewed messy transcripts + twin goldens.

    Returns ``(transcripts, golden)`` pandas frames; ``transcripts`` rows are
    shuffled so stable turn ordering is genuinely exercised; conversation 0
    is ``hot_factor``× the median length (the hot-conversation skew the
    salting strategy must absorb).
    """
    from ..extractors.core import extract_turn

    rng = np.random.RandomState(seed)
    lengths = np.minimum(1 + rng.zipf(1.6, n_convs), 60)
    lengths[0] = max(1, int(np.median(lengths))) * hot_factor

    rows, gold = [], []
    base_ts = pd.Timestamp("2025-01-01", tz="UTC")
    kinds = ("html", "layout", "markdown", "plain", "empty")
    probs = (0.40, 0.25, 0.25, 0.08, 0.02)
    t = 0
    for c in range(n_convs):
        conv = f"conv-{c:08d}"
        for turn in range(int(lengths[c])):
            kind = kinds[rng.choice(len(kinds), p=probs)]
            if kind == "html":
                text = _messy_html(rng)
            elif kind == "layout":
                text = _messy_layout(rng)
            elif kind == "markdown":
                text = _messy_markdown(rng)
            elif kind == "plain":
                text = _messy_plain(rng)
            else:
                text = "" if rng.rand() < 0.5 else "   \n\t "
            role = _ROLES[rng.randint(0, 4)]
            tool = "pdf_reader" if kind == "layout" else (
                "browser" if kind == "html" and role == "tool" else ""
            )
            t += 1
            rows.append(
                {
                    "conv_id": conv, "turn_idx": turn, "role": role,
                    "text": text, "tool": tool,
                    "ts": base_ts + pd.Timedelta(seconds=t),
                }
            )
            res = extract_turn(text)
            gold.append(
                {
                    "conv_id": conv, "turn_idx": turn,
                    "extracted_text": res.extracted_text,
                    "span_count": res.span_count,
                    "payload_kind": res.payload_kind,
                }
            )

    tdf = pd.DataFrame(rows).sample(frac=1.0, random_state=seed).reset_index(drop=True)
    tdf["turn_idx"] = tdf["turn_idx"].astype("int32")
    gdf = pd.DataFrame(gold)
    gdf["turn_idx"] = gdf["turn_idx"].astype("int32")
    gdf["span_count"] = gdf["span_count"].astype("int32")
    return tdf, gdf
